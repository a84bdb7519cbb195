"""Staged-file readers: NDJSON/JSON sniffing, archive expansion, directory
scans (SURVEY.md §2.1 S2/S3/S4/S9 + §2.5 V2).

The reference sniffs NDJSON-vs-JSON by try/parse (extract/
googleAnalytics.js:87-110) and walks directories by hand. Spark reads a
directory path as every file under it (S4), NDJSON natively and JSON
arrays with multiLine; the engine reads PERMISSIVE
with a corrupt-record column instead of skip-on-error loops, so bad lines
are *queryable*, not silently dropped.

Archives: gzip is a native Spark read codec (``*.json.gz`` just works —
S2's gunzip cascade disappears); zip has no Hadoop codec, so zips are
expanded driver-side into the staging dir exactly like the reference
shells out to unzip (extract/amplitude.js:78-103) — then Spark reads the
extracted tree in parallel.
"""

from __future__ import annotations

import os
import shutil
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"
SRC_FILE_COL = "_src_file"


def expand_zip(zip_path: str, out_dir: str) -> list[str]:
    """Driver-side zip expansion into the staging dir (S2). Gzipped members
    are left gzipped — Spark decompresses .gz natively on read."""
    os.makedirs(out_dir, exist_ok=True)
    out = []
    with zipfile.ZipFile(zip_path) as z:
        for info in z.infolist():
            if info.is_dir():
                continue
            dest = os.path.join(out_dir, os.path.basename(info.filename))
            with z.open(info) as src, open(dest, "wb") as dst:
                shutil.copyfileobj(src, dst)
            out.append(dest)
    return out


def read_json_auto(
    spark: SparkSession, paths: str | list[str], schema: StructType
) -> DataFrame:
    """NDJSON-or-JSON-array sniffing read (S3/V2): try native NDJSON first;
    if every row lands in the corrupt column the file is a JSON array —
    re-read multiLine. Bad lines stay queryable via ``corrupt_records``."""
    # build a NEW StructType — StructType.add mutates in place, which would
    # permanently grow the caller's shared schema constant
    if CORRUPT_COL in schema.names:
        with_corrupt = schema
    else:
        with_corrupt = StructType(
            list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
        )
    # cache(): Spark refuses corrupt-column-only queries on raw JSON scans
    # (internal-column restriction); the staged files are small relative to
    # the cluster, and the sniff's one job fills the cache for the build.
    # source-file provenance is captured BEFORE cache(): input_file_name()
    # reads the scan node, and an InMemoryRelation has no file to name —
    # tagging after caching would yield '' for every row
    df = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(paths)
        .withColumn(SRC_FILE_COL, F.input_file_name())
        .cache()
    )
    total, corrupt = df.agg(F.count(F.lit(1)), F.count(CORRUPT_COL)).first()
    if total > 0 and corrupt == total:
        df.unpersist()  # drop the failed NDJSON attempt's cache
        df = (
            spark.read.schema(with_corrupt)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .option("multiLine", True)
            .json(paths)
            .withColumn(SRC_FILE_COL, F.input_file_name())
            .cache()
        )
    return df


def _drop_meta(df: DataFrame) -> DataFrame:
    return df.drop(CORRUPT_COL, SRC_FILE_COL)


def valid_records(df: DataFrame) -> DataFrame:
    """Row-level salvage (the engine's default, improves on the reference:
    one bad line doesn't discard its file)."""
    return _drop_meta(df.filter(F.col(CORRUPT_COL).isNull()))


def valid_records_file_skip(df: DataFrame, max_corrupt_per_file: int = 0) -> DataFrame:
    """V1 whole-file skip fidelity: the reference validates each GA export
    file against its draft-04 schema and skips the ENTIRE file on any
    error (transform/gaToMixpanel.js:51-57). Corrupt counts group by the
    provenance column stamped at scan time; offending files anti-join out
    via a broadcast of the (tiny) bad-file list. ``max_corrupt_per_file``
    generalizes the reference's 0-tolerance contract."""
    if SRC_FILE_COL not in df.columns:
        raise ValueError("file-skip gate needs the read_json_auto provenance column")
    bad = (
        df.groupBy(SRC_FILE_COL)
        .agg(
            F.sum(F.col(CORRUPT_COL).isNotNull().cast("int")).alias("n_corrupt")
        )
        .filter(F.col("n_corrupt") > max_corrupt_per_file)
        .select(SRC_FILE_COL)
    )
    kept = df.join(F.broadcast(bad), SRC_FILE_COL, "left_anti")
    return _drop_meta(kept.filter(F.col(CORRUPT_COL).isNull()))


def corrupt_records(df: DataFrame) -> DataFrame:
    """The V2 salvage gate as a DataFrame instead of a skipped line."""
    cols = [CORRUPT_COL] + ([SRC_FILE_COL] if SRC_FILE_COL in df.columns else [])
    return df.filter(F.col(CORRUPT_COL).isNotNull()).select(*cols)

