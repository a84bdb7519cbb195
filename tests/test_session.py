"""The driver/worker plumbing in ``tomixpanel_spark.session`` and the
Arrow local frame in ``operators.base``: the package ships once per
SparkContext, every Python stage prunes Spark's archives from its worker
once per task, and driver-local rows reach the JVM without a Python task."""

from __future__ import annotations

import sys

import pandas as pd
from pyspark.sql.types import StructType

from tomixpanel_spark.operators.base import local_rows_df
from tomixpanel_spark.session import ensure_semantics, python_stage, ship_package


def test_ship_package_adds_the_zip_once_per_context(spark):
    """Each ``addPyFile`` appends to the context's include list (which
    every task's command carries) and to the driver's ``sys.path``;
    repeated ships and ``ensure_semantics`` calls must grow neither."""
    sc = spark.sparkContext
    ship_package(spark)
    includes, path = len(sc._python_includes), len(sys.path)
    for _ in range(2):
        ensure_semantics(spark)
        ship_package(spark)
        python_stage(spark.range(1), lambda it: it, "id long")
    assert (len(sc._python_includes), len(sys.path)) == (includes, path)
    assert sc._python_includes.count("tomixpanel_spark_pyfiles.zip") == 1


def test_ship_package_is_one_add_under_concurrent_first_ships(monkeypatch, tmp_path):
    """``pipeline._send_all`` sends every destination from its own thread,
    so the first ship of a context can come from several threads at once:
    exactly one builds the zip and adds it, and the added zip is whole."""
    import tempfile
    import threading
    import time
    import zipfile
    from types import SimpleNamespace

    class Context:
        def __init__(self):
            self._python_includes = []
            self.added = []

        def addPyFile(self, path):
            time.sleep(0.05)  # widen the check-then-add window
            with zipfile.ZipFile(path) as z:
                assert z.testzip() is None
            self.added.append(path)
            self._python_includes.append(path.rsplit("/", 1)[-1])

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sc = Context()
    spark = SimpleNamespace(sparkContext=sc)
    errors = []

    def ship():
        try:
            ship_package(spark)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=ship) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert sc.added == [str(tmp_path / "tomixpanel_spark_pyfiles.zip")]


# modules a fresh worker has not imported: each later task imports the
# first one still missing, so it must resolve after the prune
_PYSPARK_LATE = (
    "pyspark.ml.linalg", "pyspark.mllib.linalg", "pyspark.streaming.util",
    "pyspark.sql.avro.functions", "pyspark.sql.protobuf.functions",
    "pyspark.ml.param", "pyspark.mllib.common", "pyspark.sql.observation",
)
_PACKAGE_LATE = (
    "tomixpanel_spark.plans.audit", "tomixpanel_spark.sinks.lake",
    "tomixpanel_spark.functions.skew", "tomixpanel_spark.functions.canonical",
    "tomixpanel_spark.operators.ranges", "tomixpanel_spark.schemas",
    "tomixpanel_spark.functions.schema_constraints", "tomixpanel_spark.sinks.reverse",
)


def test_python_stage_prunes_spark_archives_once_per_task(spark):
    """A Python worker runs many tasks. Spark's worker calls
    ``importlib.invalidate_caches()`` at every task start, which re-reads
    the directory of every zipimporter over pyspark.zip, the py4j zip and
    the spark-core jar. At the start of each task body the wrapper has
    dropped those importers, kept the shipped package zip on ``sys.path``,
    and left later pyspark and package imports working."""

    def probe(it):
        import importlib
        import os
        import time

        from pyspark import TaskContext

        from tomixpanel_spark.session import _SPARK_ARCHIVE

        left = [
            k for k, v in sys.path_importer_cache.items()
            if type(v).__name__ == "zipimporter" and _SPARK_ARCHIVE.search(k)
        ]
        shipped = any(p.endswith("tomixpanel_spark_pyfiles.zip") for p in sys.path)
        t = time.perf_counter()
        importlib.invalidate_caches()
        inval_ms = (time.perf_counter() - t) * 1000
        late = []
        for names in (_PYSPARK_LATE, _PACKAGE_LATE):
            name = next((m for m in names if m not in sys.modules), None)
            if name is not None:
                importlib.import_module(name)
                late.append(name)
        for _ in it:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "task": [TaskContext.get().taskAttemptId()],
                "left": [len(left)],
                "shipped": [shipped],
                "inval_ms": [inval_ms],
                "late": [",".join(late)],
            }
        )

    rows = python_stage(
        spark.range(0, 64, 1, 16),
        probe,
        "pid long, task long, left long, shipped boolean, inval_ms double, late string",
    ).toPandas()
    later = rows.sort_values("task").groupby("pid").tail(-1)
    assert len(later), "no worker ran two tasks"
    assert (rows["left"] == 0).all(), rows
    assert rows["shipped"].all(), rows
    assert later["late"].str.contains("pyspark.").any(), rows
    assert later["late"].str.contains("tomixpanel_spark.").any(), rows
    # unpruned this was 115-292 ms per task (4-vCPU host); pruned ~1 ms
    assert later["inval_ms"].median() < 50, rows


def test_python_stage_keeps_grouped_calling_conventions(spark):
    """Spark reads a grouped body's arity to pick ``(pdf)`` or
    ``(key, pdf)`` (and ``(key, left, right)`` for a cogroup); the
    wrapper must keep it."""
    g = spark.range(0, 40, 1, 4).selectExpr("id % 5 AS k", "id")

    def first(pdf):
        return pdf.nsmallest(1, "id")

    def sized(key, pdf):
        return pd.DataFrame({"k": [key[0]], "id": [len(pdf)]})

    def both(key, a, b):
        return pd.DataFrame({"k": [key[0]], "id": [len(a) + len(b)]})

    schema = "k long, id long"
    assert sorted(map(tuple, python_stage(g.groupBy("k"), first, schema).collect())) == [
        (k, k) for k in range(5)
    ]
    assert sorted(map(tuple, python_stage(g.groupBy("k"), sized, schema).collect())) == [
        (k, 8) for k in range(5)
    ]
    co = g.groupBy("k").cogroup(g.groupBy("k"))
    assert sorted(map(tuple, python_stage(co, both, schema).collect())) == [
        (k, 16) for k in range(5)
    ]


_ALL_TYPES = (
    "l long, d double, b boolean, s string, a array<string>, m map<string,string>"
)


def test_local_rows_df_round_trips_types_and_nulls(spark):
    rows = [
        (1, 1.5, True, "x", ["p", None], {"k": "v", "n": None}),
        (-(2**62), -0.25, False, "", [], {}),
        (None, None, None, None, None, None),
    ]
    df = local_rows_df(spark, rows, _ALL_TYPES)
    assert df.schema == StructType.fromDDL(_ALL_TYPES)
    got = [tuple(r) for r in df.collect()]
    assert got == rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan


def test_local_rows_df_takes_pandas_by_position(spark):
    pdf = pd.DataFrame({"x": [3, 1], "y": ["a", None]})
    df = local_rows_df(spark, pdf, "id long, name string")
    assert [tuple(r) for r in df.collect()] == [(3, "a"), (1, None)]


def test_local_rows_df_empty_keeps_schema(spark):
    for empty in ([], pd.DataFrame({"a": pd.Series([], dtype="int64")})):
        df = local_rows_df(spark, empty, "a long")
        assert df.schema.simpleString() == "struct<a:bigint>"
        assert df.count() == 0
    df = local_rows_df(spark, [], _ALL_TYPES)
    assert df.schema == StructType.fromDDL(_ALL_TYPES)
    assert df.collect() == []
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
