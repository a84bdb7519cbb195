"""CSV -> Mixpanel transform (reference connectors/csvETL.js).

Config-driven column roles (reference examples/configExample-csv.json:4-13):
  event_name_col / distinct_id_col / time_col / insert_id_col, plus
  ignore_cols to drop and everything else passing through as props.

Semantics re-expressed (citations into connectors/csvETL.js):
  * all-strings scan with header (:49-63; sources.csv.read_csv_all_strings)
  * rename to canonical names (:101-118 renameKeys)
  * ignore_cols dropped (:94-98)
  * time heuristic (:80-90): >=13-digit numeric => ms, numeric => SECONDS
    (this path keeps epoch seconds — per-source convention, SURVEY §1.1),
    else parse as UTC datetime -> seconds
  * $insert_id from insert_id_col, else canonical md5 (:111-118)
  * $source tag + optional import-tag (:121-124)
  * profiles: one per distinct_id, KEEP-FIRST in file order (:129-150)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tomixpanel_spark.functions.canonical import canonical_insert_id, normalize_time_ms

SOURCE_TAG = "csvToMixpanel (by AK)"


@dataclass
class CsvMapping:
    event_name_col: str
    distinct_id_col: str
    time_col: str
    insert_id_col: str | None = None
    ignore_cols: list[str] = field(default_factory=list)
    import_tag: str | None = None
    token: str | None = None


def csv_events(df: DataFrame, m: CsvMapping) -> DataFrame:
    """String-typed CSV rows -> canonical events (time in epoch SECONDS,
    matching the reference CSV path's unit convention)."""
    core = {m.event_name_col, m.distinct_id_col, m.time_col}
    if m.insert_id_col:
        core.add(m.insert_id_col)
    passthrough = [
        c for c in df.columns if c not in core and c not in set(m.ignore_cols)
    ]
    time_s = (normalize_time_ms(F.col(m.time_col)) / 1000).cast("bigint")
    insert_id = (
        F.nullif(F.col(m.insert_id_col), F.lit(""))
        if m.insert_id_col
        else F.lit(None).cast("string")
    )
    insert_id = F.coalesce(
        insert_id,
        canonical_insert_id(
            F.col(m.event_name_col), F.col(m.distinct_id_col), time_s
        ),
    )
    tag_entries = [(F.lit("$source"), F.lit(SOURCE_TAG))]
    if m.import_tag:
        tag_entries.append((F.lit("import-tag"), F.lit(m.import_tag)))
    props = F.map_concat(
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in passthrough]),
            F.array(*[F.col(f"`{c}`") for c in passthrough]),
        )
        if passthrough
        else F.create_map().cast("map<string,string>"),
        F.map_from_arrays(
            F.array(*[k for k, _ in tag_entries]),
            F.array(*[v for _, v in tag_entries]),
        ),
    )
    return df.select(
        F.col(m.event_name_col).alias("event"),
        F.col(m.distinct_id_col).alias("distinct_id"),
        (time_s * 1000).alias("time_ms"),
        insert_id.alias("insert_id"),
        props.alias("props"),
    )


def csv_profiles(df: DataFrame, m: CsvMapping) -> DataFrame:
    """KEEP-FIRST profile per distinct_id in file order (reference :150
    findIndex first-occurrence over files in sorted listing order).

    Ordering key is (input_file_name, monotonically_increasing_id):
    Spark packs splits by SIZE, so a bare monotonic id would order a large
    later file before a small earlier one — the filename component pins the
    reference's sorted-listing file order over a Spark directory read,
    and the monotonic id orders rows within a file's split. (Rows inside a
    single multi-split file keep split order — exact line order within one
    huge CSV would need a line-number source; documented limitation.)"""
    ordered = df.withColumn("__file", F.input_file_name()).withColumn(
        "__ord", F.monotonically_increasing_id()
    )
    drop = {m.event_name_col, m.time_col, *m.ignore_cols}
    if m.insert_id_col:
        drop.add(m.insert_id_col)
    prop_cols = [
        c
        for c in ordered.columns
        if c not in drop and c not in (m.distinct_id_col, "__ord", "__file")
    ]
    w = Window.partitionBy(m.distinct_id_col).orderBy("__file", "__ord")
    first = ordered.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    set_map = (
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in prop_cols]),
            F.array(*[F.col(f"`{c}`") for c in prop_cols]),
        )
        if prop_cols
        else F.create_map().cast("map<string,string>")
    )
    return first.select(
        F.lit(m.token).cast("string").alias("token"),
        F.col(m.distinct_id_col).alias("distinct_id"),
        F.lit(None).cast("string").alias("ip"),
        set_map.alias("set"),
    )
