"""SparkSession factory with the engine's required semantics pinned.

Reference-parity configs (see SURVEY.md §4 "Spark-config sensitive points"):
  * ``spark.sql.session.timeZone=UTC`` — the reference normalizes all event
    times with dayjs.utc (reference transform/amplitudeToMixpanel.js:126);
    also required for DuckDB-oracle comparison (duckdb timestamps are
    UTC-naive).
  * ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` — property-bag merges use
    JS-spread semantics where the later spread wins (reference
    transform/amplitudeToMixpanel.js:138,157); ``map_concat`` must behave
    the same way.

Scale configs: AQE on (runtime re-plan, skew-join splitting, partition
coalescing) — on a 1000-executor cluster reading 100 TB these are the
difference between a plan that survives skew and one that doesn't. Shuffle
partitions default to the local core count; on a real cluster this should
be ~2-3x total executor cores (or left to AQE's coalescing with a high
initial count).
"""

from __future__ import annotations

import inspect
import os
import re
import sys
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.group_ops import PandasCogroupedOps


def session_builder(
    app_name: str = "tomixpanel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Return a pre-configured builder (callers may add configs before build)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # Local mode runs driver+executor in ONE JVM whose default heap (1g)
    # forces constant GC once tables are cached and dozens of plans have
    # run — sized to the host instead (only applies at JVM launch; an
    # externally built session keeps its own sizing).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # static conf, read once at first codegen: the default 100-entry
        # generated-class cache thrashes under a 100-plus-query serving
        # workload (every plan's classes recompile per run — the widest
        # transforms pay ~0.5s of janino per pass); size it to the suite
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.ui.enabled", "false")
    )


def get_spark(app_name: str = "tomixpanel_spark", **kwargs) -> SparkSession:
    """Get-or-create the engine session (idempotent within a JVM)."""
    spark = session_builder(app_name, **kwargs).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate() may return a pre-existing session whose builder configs
    # were ignored — re-assert the runtime-settable semantics we rely on.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    return spark


def ensure_semantics(spark: SparkSession) -> SparkSession:
    """Pin reference-parity semantics on a session we did not create.

    The driver hands ``entry(spark)``/``queries()`` an externally built
    session; map-merge precedence and UTC parity must hold there too.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # Runtime bloom-filter injection is pinned ON at the session level:
    # the above-cap shuffle hash joins of ``Gate.join_sides`` (decontam,
    # tfidf/bpe vocab, bigram LM) rely on it for map-side pruning, and
    # setting it per-query from inside a builder was a cross-query side
    # effect — plan shapes depended on which query ran first (round-8
    # review).
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    return spark


_ZIP = "tomixpanel_spark_pyfiles.zip"
# concurrent sends (pipeline._send_all) ship from several threads at once:
# two unguarded builds wrote one temp zip together, and the executor then
# refused the served file ("exists and does not match contents")
_SHIP_LOCK = threading.Lock()


def ship_package(spark: SparkSession) -> None:
    """Make ``tomixpanel_spark`` importable on executor Python workers.

    Pandas-UDF closures reference this package; when the driving process
    runs from outside the repo (as the verification driver does), workers
    can't import it from cwd. Zip the package and ``addPyFile`` it — the
    local-mode equivalent of shipping the library with ``--py-files`` on a
    real cluster.

    Once per SparkContext: every ``addPyFile`` appends to the context's
    include list (which every task's command carries) and to the
    driver's ``sys.path``, while Spark refuses to overwrite a path it
    already serves, so a second add could never ship a rebuilt zip.
    """
    import tempfile
    import zipfile

    sc = spark.sparkContext
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), _ZIP)
    with _SHIP_LOCK:
        if _ZIP in sc._python_includes:
            return
        sources = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(pkg_dir)
            for f in fs
            if f.endswith(".py")
        ]
        newest = max(os.path.getmtime(p) for p in sources)
        if not os.path.exists(zpath) or os.path.getmtime(zpath) < newest:
            tmp = zpath + f".{os.getpid()}.tmp"
            with zipfile.ZipFile(tmp, "w") as z:
                for p in sources:
                    z.write(p, os.path.relpath(p, root))
            os.replace(tmp, zpath)
        try:
            sc.addPyFile(zpath)
        except Exception:
            pass  # already added in this session


# The Spark distribution's archives on a Python worker's PYTHONPATH (the
# worker factory puts them there): pyspark.zip, py4j-*-src.zip and the
# spark-core jar, as sys.path entries or importer-cache keys below them.
_SPARK_ARCHIVE = re.compile(
    r"(?:^|/)(?:pyspark\.zip|py4j-[^/]*\.zip|spark-core[^/]*\.jar)(?:/|$)"
)
_pruned_task = None  # the task attempt this worker last pruned for


def prune_spark_archives() -> None:
    """Drop the Spark distribution's archives from this process's
    ``sys.path`` and ``sys.path_importer_cache``.

    Spark's worker runs ``importlib.invalidate_caches()`` at the start
    of every task, and Python 3.11's zipimporter answers that by
    re-reading its archive's whole directory. Twelve importers over
    ``pyspark.zip`` (one per imported subpackage), two over the py4j
    zip and two over the 5,359-entry spark-core jar made that a median
    of 196 ms per task (110-359 ms) on a 4-vCPU host, against 1.1 ms
    once they are gone. Nothing is lost: ``pyspark`` and ``py4j`` are
    already imported, and a later submodule import resolves through its
    package's ``__path__`` (a new importer, which the next task's prune
    drops again). The shipped package zip and every other path stay.
    """
    sys.path[:] = [p for p in sys.path if not _SPARK_ARCHIVE.search(p)]
    for key in [
        k for k in sys.path_importer_cache
        if isinstance(k, str) and _SPARK_ARCHIVE.search(k)
    ]:
        del sys.path_importer_cache[key]


def _prune_once_per_task() -> None:
    global _pruned_task
    from pyspark import TaskContext

    ctx = TaskContext.get()
    task = ctx.taskAttemptId() if ctx is not None else None
    if task is None or task != _pruned_task:
        prune_spark_archives()
        _pruned_task = task


def python_stage(frame, func, schema, **state) -> DataFrame:
    """The one way a Python function runs on the workers: ship the
    package (``ship_package``), then run ``func`` behind a once-per-task
    ``prune_spark_archives``.

    ``frame`` is a DataFrame (``mapInPandas``), a GroupedData or a
    cogroup of two (``applyInPandas``; ``applyInPandasWithState`` when
    ``state`` holds its ``stateStructType``/``outputMode``/``timeoutConf``
    keywords). The prune keys on the task attempt id, so a grouped body
    pays it once per task, not once per group.
    """
    if isinstance(frame, DataFrame):
        spark = frame.sparkSession
    elif isinstance(frame, PandasCogroupedOps):
        spark = frame._gd1.session
    else:
        spark = frame.session

    def body(*args):
        _prune_once_per_task()
        return func(*args)

    # Spark picks the grouped calling convention ((pdf) or (key, pdf))
    # from the function's positional arity
    body.__signature__ = inspect.Signature(
        [
            inspect.Parameter(name, inspect.Parameter.POSITIONAL_OR_KEYWORD)
            for name in inspect.signature(func).parameters
        ]
    )
    ship_package(spark)
    if isinstance(frame, DataFrame):
        return frame.mapInPandas(body, schema)
    if state:
        return frame.applyInPandasWithState(body, schema, **state)
    return frame.applyInPandas(body, schema)
