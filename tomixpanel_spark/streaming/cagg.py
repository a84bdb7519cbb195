"""Incrementally-maintained continuous aggregate (the persisted-artifact
leg of the hypertable story).

``operators.analytics.hypertable_rollup`` answers multi-grain questions
in one scan; THIS module maintains the hourly partial store as data
lands, so the raw stream is aggregated exactly once ever:

  * per micro-batch, the batch aggregates to hourly partial cells
    (count + DECIMAL sum — the re-aggregable pair; averages derive at
    read time);
  * the store is day-partitioned; a batch only reads and rewrites the
    day partitions it touches (manual pruning via the manifest on read,
    a fresh generation directory on write) — per-batch cost is
    proportional to the batch's time spread, never the store size;
  * coarser grains (daily, weekly) roll up FROM THE STORED HOURLY
    PARTIALS — counts and DECIMAL sums merge exactly, so
    daily-from-partials equals daily-from-raw bit-for-bit (asserted by
    tests against a direct batch aggregate of the full input);
  * replays are safe AND crash-atomic: foreachBatch is at-least-once,
    and the data write + batch_id record commit TOGETHER (see below) —
    a crash anywhere leaves the store readable and the replay exact.

Commit protocol (the poor-man's transaction log, same shape as
Delta/Iceberg's manifest pointer):

  * every batch writes its merged day partitions under a FRESH
    generation directory ``gen/<batch_id>/day=<d>/`` — never touching
    files any reader references;
  * one manifest JSON (``_cagg_manifest.json``) maps day -> owning
    generation AND records the last applied batch_id; it is swapped with
    ``os.replace`` (atomic on POSIX) only after the generation write
    returns;
  * crash BEFORE the swap: the manifest still points at the old
    generations, so a replayed batch re-reads exactly the pre-batch
    state and overwrites the orphan generation dir — idempotent, no
    double-count, no lost partials (the old day files were never
    deleted, unlike a dynamic-partition overwrite which removes them
    before the new files commit);
  * crash AFTER the swap: the batch_id is already inside the manifest,
    so the replay short-circuits;
  * superseded generation dirs are garbage-collected best-effort after
    each successful commit.

Reference parity: the reference recomputes summary totals per run (M8);
an incrementally-maintained aggregate is part of the scale extension
surface (TimescaleDB continuous aggregates / materialized-view
maintenance re-expressed as foreachBatch + manifest-pruned merge).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tomixpanel_spark.operators.base import Gate, Lru, local_rows_df
from tomixpanel_spark.streaming.genstore import (
    cas_check,
    mint_store_id,
    store_nonce,
    writer_lock,
)

# A micro-batch whose partial cells fit under this cap merges on the
# driver (see update_batch): 64k cells is a few MB of pandas, while the
# distributed merge costs two extra Spark jobs per batch.
CAGG_DRIVER_MERGE_CAP = Gate("TOMIX_CAGG_DRIVER_MERGE_CAP", 65_536)

# hourly() read-plan cache (LRU): key includes the manifest's day->gen
# map AND the store-instance nonce, so any committed write — or a store
# deleted and recreated at the same path — changes the key; see hourly()
# for why a hit can never be stale.
_HOURLY_PLAN_CACHE = Lru(8)


def _sum_dec_skipna(s):
    """Exact-Decimal sum with F.sum's null semantics: skip NULLs, and an
    all-null group is NULL (None), never 0."""
    from decimal import Decimal

    vals = [v for v in s if v is not None]
    return sum(vals, Decimal(0)) if vals else None


class ContinuousAggregate:
    """Hourly (bucket, key) -> (n, sum_dec) partial store.

    ``update_batch`` is a ``foreachBatch`` hook; ``hourly()`` /
    ``daily()`` are the read paths.

    ``path`` must be DRIVER-ACCESSIBLE (local disk, NFS, or a fuse
    mount): the manifest swap uses plain filesystem IO (``os.replace``).
    For an object store, swap ``_load_manifest`` / ``_commit_manifest``
    for a conditional-put on the store's API (the Spark read/write calls
    themselves already take any Hadoop-supported URI).
    """

    def __init__(
        self,
        path: str,
        ts_col: str = "ts",
        key_col: str = "event_type",
        value_col: str = "value",
        gc: bool = True,
        key_type: str = "string",
        gc_keep: int = 2,
    ) -> None:
        self.path = path
        self.ts_col = ts_col
        self.key_col = key_col
        self.value_col = value_col
        self.gc = gc
        # grace window: keep this many of the NEWEST superseded
        # generations so a reader holding a lazy DataFrame resolved
        # against a recent manifest survives the next few commits
        # (round-7 advice: immediate removal was the default failure
        # mode). 0 restores immediate gc; gc=False retains everything.
        self.gc_keep = gc_keep
        # declared key DDL type: hourly() on an EMPTY store has no data
        # to infer from, and a schema that changes when the first batch
        # lands breaks downstream unions/joins
        self.key_type = key_type

    # -- manifest: days -> generation, plus the applied batch_id ----------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_cagg_manifest.json")

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                raw = f.read()
        except FileNotFoundError:
            # ONLY a missing manifest means "adopt legacy layout / fresh
            # store". An existing-but-unreadable/corrupt manifest must
            # raise loudly: falling back to an empty manifest here would
            # silently reset the store ({batch_id:-1, days:{}}) — readers
            # see no data and the next replayed batch re-merges from
            # scratch, a silent double-count (round-7 advice).
            return self._legacy_manifest()
        try:
            man = json.loads(raw)
            return {
                "batch_id": man["batch_id"],
                "days": dict(man["days"]),
                "store_id": man.get("store_id"),
            }
        except (ValueError, KeyError, TypeError) as exc:
            raise RuntimeError(
                f"corrupt cagg manifest at {self._manifest_path()}: {exc}; "
                "recover by rebuilding it from the gen/<batch_id>/day=* "
                "directories (the data files are intact — the manifest is "
                "the only pointer), do NOT delete the store"
            ) from exc

    def _legacy_manifest(self) -> dict:
        """No manifest on disk: adopt a pre-manifest store if one exists
        (day=* dirs at the root + _cagg_meta.json batch_id — the earlier
        format, which committed data and batch_id separately). Days map
        to the sentinel generation "legacy" (resolved to the store root);
        the next update_batch commit writes a real manifest carrying the
        adopted days forward, so upgrading never loses aggregates or
        replays an already-applied batch."""
        days: dict = {}
        try:
            for e in os.listdir(self.path):
                if e.startswith("day=") and os.path.isdir(os.path.join(self.path, e)):
                    days[e[len("day="):]] = "legacy"
        except OSError:
            return {"batch_id": -1, "days": {}, "store_id": None}
        batch_id = -1
        try:
            with open(os.path.join(self.path, "_cagg_meta.json")) as f:
                batch_id = int(json.load(f)["batch_id"])
        except (OSError, ValueError, KeyError, TypeError):
            pass
        return {"batch_id": batch_id, "days": days, "store_id": None}

    def _commit_manifest(self, man: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, self._manifest_path())

    def _gen_dir(self, gen) -> str:
        if str(gen) == "legacy":
            return self.path  # adopted pre-manifest store: day=* at root
        return os.path.join(self.path, "gen", str(gen))

    def _gc_superseded(self, man: dict) -> None:
        """Best-effort removal of generation dirs the CURRENT manifest no
        longer references, RETAINING the ``gc_keep`` newest superseded
        generations as a grace window: a reader holding a lazy hourly()/
        daily() DataFrame resolved against a recent manifest keeps its
        files through the next ``gc_keep`` commits instead of failing
        mid-action on missing parquet. Long-lived readers that may lag
        further behind the stream should construct with ``gc=False``
        (superseded generations then accumulate until an external
        vacuum)."""
        if not self.gc:
            return
        live = {str(g) for g in man["days"].values()}
        root = os.path.join(self.path, "gen")
        try:
            gens = os.listdir(root)
        except OSError:
            return
        # generation dirs are named by integer batch_id; newest = largest.
        # Non-integer names (foreign files) are never gc'd.
        superseded = sorted(
            (g for g in gens if g not in live and g.lstrip("-").isdigit()),
            key=int,
        )
        doomed = superseded[: max(0, len(superseded) - self.gc_keep)]
        for g in doomed:
            shutil.rmtree(os.path.join(root, g), ignore_errors=True)

    # -- write path -------------------------------------------------------
    # The store's sum type is PINNED: Spark widens SUM(decimal(p,s)) to
    # (p+10,s), so without the cast-back each merge generation would write
    # a different parquet decimal width and mixed-generation reads fail.
    # (28,6) leaves 12 integer digits of headroom over any batch sum.
    SUM_TYPE = "decimal(28,6)"

    def _batch_partials(self, df: DataFrame) -> DataFrame:
        # Rows with an unparseable/null timestamp cannot be bucketed —
        # drop them HERE, explicitly: without the filter one bad row
        # yields a null day group whose isoformat() crashes update_batch,
        # and foreachBatch redelivers the same poison batch forever.
        # Null-ts rows are a data-quality concern for the upstream gate
        # (V1/V2), not for the aggregate store.
        return (
            df.filter(F.col(self.ts_col).isNotNull())
            .groupBy(
                F.date_trunc("hour", F.col(self.ts_col)).alias("bucket"),
                F.col(self.key_col).alias("key"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(self.value_col).cast("decimal(24,6)"))
                .cast(self.SUM_TYPE)
                .alias("sum_dec"),
            )
            .withColumn("day", F.to_date("bucket"))
        )

    def _read_day_partitions(self, spark: SparkSession, man: dict, days) -> DataFrame | None:
        """Union the manifest-selected day partitions, grouped by owning
        generation so each read keeps its basePath (restores the ``day``
        partition column)."""
        by_gen: dict[str, list[str]] = {}
        for d in days:
            g = man["days"].get(d)
            if g is not None:
                by_gen.setdefault(str(g), []).append(d)
        parts = []
        for g, ds in by_gen.items():
            base = self._gen_dir(g)
            paths = [os.path.join(base, f"day={d}") for d in ds]
            parts.append(spark.read.option("basePath", base).parquet(*paths))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def update_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one micro-batch into the store. Reads ONLY the day
        partitions the batch touches; writes a fresh generation and
        commits data + batch_id atomically via the manifest swap.

        Size-adaptive merge (the tfidf/decontam gate pattern): the
        batch's raw rows always aggregate Spark-side (that side scales
        with the stream), but the RESULT is partial cells — hours x keys
        x days, bounded by the batch's time spread and key cardinality,
        never its row count. When the cell count fits under
        ``TOMIX_CAGG_DRIVER_MERGE_CAP`` (default 65536; 0 disables), the
        store merge runs driver-side: one ``toPandas`` of the partials,
        a pyarrow read of the touched day partitions, an exact
        Decimal/pandas merge, and direct parquet writes — replacing the
        two extra Spark jobs per micro-batch (day-discovery collect +
        distributed generation write) whose per-job floor dominated
        update cost on small batches. Above the cap (high-cardinality
        keys at scale) the merge stays fully distributed. Both paths
        write the identical generation layout and commit through the
        same manifest swap, so crash/replay semantics are unchanged.

        Writer exclusion is mechanical (the dedup-index contract): the
        read->merge->swap window holds ``writer_lock``, and a
        ``cas_check`` on batch_id at the commit point fails loudly if a
        non-cooperating writer committed inside the window."""
        with writer_lock(self._manifest_path()):
            man = self._load_manifest()
            if batch_id <= man["batch_id"]:
                return  # replayed batch: already committed in the manifest
            spark = batch_df.sparkSession
            # persist ONCE across the gate probe and whichever merge path
            # runs — without the pin an over-cap batch would re-aggregate
            # the raw stream for the distributed merge after the probe
            # already computed the full aggregate
            partials = self._batch_partials(batch_df).persist()
            try:
                pdf = None
                # driver writer emits a string key column; exotic key_type
                # stores take the distributed path rather than guessing an
                # arrow type
                if self.key_type == "string":
                    pdf = CAGG_DRIVER_MERGE_CAP.collect_or_none(partials)
                if pdf is not None:
                    days = self._merge_driver_write(pdf, man, batch_id)
                else:
                    days = self._merge_spark_write(spark, partials, man, batch_id)
            finally:
                partials.unpersist()
            new_man = {
                "batch_id": batch_id,
                "days": {**man["days"], **{d: batch_id for d in days}},
                "store_id": mint_store_id(man),
            }
            cas_check(
                "cagg", self.path, man["batch_id"],
                self._load_manifest()["batch_id"],
            )
            self._commit_manifest(new_man)  # THE commit point (atomic swap)
        self._gc_superseded(new_man)

    def _merge_spark_write(
        self, spark: SparkSession, partials: DataFrame, man: dict, batch_id: int
    ) -> list:
        """Distributed merge+write (the scale path).

        Partials PERSIST for the duration of the merge: the day-discovery
        collect and the generation write both consume them, and without
        the pin each consumer re-aggregates the raw batch (two full
        passes measured). The write coalesces to ONE task: partial cells
        are aggregate output, so a task per shuffle partition just
        multiplies files and commit overhead."""
        partials = partials.persist()
        try:
            days = sorted(
                r["day"].isoformat()
                for r in partials.select("day").distinct().collect()
            )
            existing = self._read_day_partitions(spark, man, days)
            merged = partials
            if existing is not None:
                merged = (
                    existing.withColumn("day", F.col("day").cast("date"))
                    .unionByName(partials)
                    .groupBy("bucket", "key", "day")
                    .agg(
                        F.sum("n").alias("n"),
                        F.sum("sum_dec").cast(self.SUM_TYPE).alias("sum_dec"),
                    )
                )
            # a replayed half-committed batch overwrites its own orphan dir
            merged.coalesce(1).write.mode("overwrite").partitionBy("day").parquet(
                self._gen_dir(batch_id)
            )
        finally:
            partials.unpersist()
        return days

    def _merge_driver_write(self, pdf, man: dict, batch_id: int) -> list:
        """Driver-side merge+write for cell counts under the gate: exact
        (int64 counts, ``decimal.Decimal`` sums — no float path), same
        generation layout and parquet schema as the Spark writer (spiked
        both directions: Spark reads pyarrow generations as
        ``timestamp``/``decimal(28,6)``, pyarrow reads Spark generations
        as ns-timestamps/Decimal objects)."""
        import glob

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        def _norm(frame, day_iso=None):
            out = frame[["bucket", "key", "n", "sum_dec"]].copy()
            # bucket may arrive as datetime64[ns] (arrow toPandas), as
            # tz-aware timestamp[us, UTC] (pyarrow read of a driver-written
            # generation) or object-of-datetime (plain toPandas) —
            # normalize to one naive unit so concat groups exact-equal cells
            b = pd.to_datetime(out["bucket"])
            if getattr(b.dt, "tz", None) is not None:
                b = b.dt.tz_localize(None)  # session tz is UTC: same wall time
            out["bucket"] = b.astype("datetime64[us]")
            out["day"] = (
                day_iso if day_iso is not None
                else frame["day"].map(lambda d: d.isoformat())
            )
            return out

        days = sorted({d.isoformat() for d in pdf["day"]}) if len(pdf) else []
        frames = [_norm(pdf)] if len(pdf) else []
        for d in days:
            g = man["days"].get(d)
            if g is None:
                continue
            ddir = os.path.join(self._gen_dir(g), f"day={d}")
            for f in sorted(glob.glob(os.path.join(ddir, "*.parquet"))):
                frames.append(_norm(pq.read_table(f).to_pandas(), day_iso=d))
        gen = self._gen_dir(batch_id)
        # a replayed half-committed batch overwrites its own orphan dir
        shutil.rmtree(gen, ignore_errors=True)
        if not frames:
            return days
        merged = (
            pd.concat(frames, ignore_index=True)
            .groupby(["day", "bucket", "key"], dropna=False, sort=True)
            .agg(
                n=("n", "sum"),
                # skip NULLs like F.sum does (all-null cell => NULL, not
                # 0): Decimal(0) + None is a TypeError — inside
                # foreachBatch that poisons the batch into endless
                # redelivery
                sum_dec=("sum_dec", _sum_dec_skipna),
            )
            .reset_index()
        )
        merged["key"] = merged["key"].where(pd.notna(merged["key"]), None)
        for d in days:
            sub = merged[merged["day"] == d]
            tbl = pa.Table.from_arrays(
                [
                    pa.Array.from_pandas(sub["bucket"])
                    .cast(pa.timestamp("us"))
                    .cast(pa.timestamp("us", "UTC")),
                    pa.array(sub["key"], type=pa.string()),
                    pa.array(sub["n"].astype("int64"), type=pa.int64()),
                    pa.array(sub["sum_dec"], type=pa.decimal128(28, 6)),
                ],
                names=["bucket", "key", "n", "sum_dec"],
            )
            ddir = os.path.join(gen, f"day={d}")
            os.makedirs(ddir, exist_ok=True)
            pq.write_table(tbl, os.path.join(ddir, "part-00000.parquet"))
        return days

    # -- read paths -------------------------------------------------------
    @property
    def _READ_SCHEMA(self) -> str:
        return (
            f"bucket timestamp, key {self.key_type}, n bigint, "
            f"sum_dec decimal(28,6)"
        )

    def hourly(self, spark: SparkSession) -> DataFrame:
        man = self._load_manifest()
        # serving-read plan cache: building the read (file listing +
        # footer/schema pass per generation) costs ~2x the actual scan at
        # interactive store sizes. The key is the manifest's day->gen map,
        # so a register()/rebucket that commits a new generation misses
        # the cache by construction — generation dirs are immutable, a hit
        # can never serve stale data. The manifest read itself stays
        # per-call (it IS the freshness check).
        key = (
            spark.sparkContext.applicationId,
            os.path.abspath(self.path),
            # store-instance nonce: a store deleted and recreated at the
            # same path restarts batch ids at 0 — without the nonce an
            # identical days->gen map could serve the dead store's plan
            store_nonce(self._manifest_path(), man.get("store_id")),
            tuple(sorted(man["days"].items())),
        )
        hit = _HOURLY_PLAN_CACHE.get(key)
        if hit is not None:
            return hit
        df = self._read_day_partitions(spark, man, sorted(man["days"]))
        if df is None:
            return local_rows_df(spark, [], self._READ_SCHEMA)
        out = df.select(
            "bucket", "key", F.col("n").cast("bigint").alias("n"), "sum_dec"
        )
        return _HOURLY_PLAN_CACHE.put(key, out)

    def daily(self, spark: SparkSession) -> DataFrame:
        """Daily grain from the stored hourly partials — never re-reads
        the raw stream; exact because n/sum_dec are re-aggregable."""
        return (
            self.hourly(spark)
            .groupBy(F.date_trunc("day", F.col("bucket")).alias("bucket"), "key")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("sum_dec").cast(self.SUM_TYPE).alias("sum_dec"),
            )
        )
