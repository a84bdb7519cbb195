"""Optimization-round probe: per-query build/execute split + formatted plan.

Usage: python tools/opt_probe.py <query> [<query> ...]
  env: OPT_SF (default /root/testdata/sf0.1), OPT_RUNS (default 3),
       OPT_PLAN_DIR (write <query>_<OPT_PLAN_TAG>.txt explain dumps),
       OPT_PLAN_TAG (default "before"), OPT_NOOP=1 (time via noop sink
       instead of toPandas — guide §1.4).

Mirrors bench.py's measurement regime (warm each shape at sf0.001 first,
TOMIX_CACHE_TABLES on, back-to-back repeats) so numbers are comparable,
but reports build and execute separately — the split bench.py folds into
one number — so plan-construction/codegen overhead is visible apart from
data work.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tomixpanel_spark.operators import registry  # noqa: E402
from tomixpanel_spark.operators.base import TABLES, table  # noqa: E402
from tomixpanel_spark.session import ensure_semantics, session_builder  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    os.environ.setdefault("TOMIX_CACHE_TABLES", "1")
    sf_dir = os.environ.get("OPT_SF", "/root/testdata/sf0.1")
    runs = int(os.environ.get("OPT_RUNS", "3"))
    plan_dir = os.environ.get("OPT_PLAN_DIR")
    plan_tag = os.environ.get("OPT_PLAN_TAG", "before")
    use_noop = os.environ.get("OPT_NOOP") == "1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = (
        session_builder("opt_probe", master=f"local[{cpus}]", shuffle_partitions=cpus)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_semantics(spark)
    reg = registry()
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_sf = "/root/testdata/sf0.001"
    for t in TABLES:
        table(spark, sf_dir, t).count()

    def execute(df) -> float:
        t0 = time.perf_counter()
        if use_noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            try:
                df.toPandas()
            except Exception:
                df.collect()
        return time.perf_counter() - t0

    out = {}
    for name in names:
        if name not in reg:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"warm:{name}")
        try:
            reg[name].fn(spark, warm_sf).toPandas()
        except Exception:
            pass
        rows = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name}:run{r}")
            t0 = time.perf_counter()
            df = reg[name].fn(spark, sf_dir)
            built = time.perf_counter() - t0
            ex = execute(df)
            rows.append((round(built, 4), round(ex, 4), round(built + ex, 4)))
        if plan_dir:
            os.makedirs(plan_dir, exist_ok=True)
            df = reg[name].fn(spark, sf_dir)
            execute(df)  # run it so AdaptiveSparkPlan prints the FINAL plan
            with open(os.path.join(plan_dir, f"{name}_{plan_tag}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        out[name] = rows
        best = min(t for _, _, t in rows)
        print(f"{name}: best={best:.3f}  runs(build,exec,total)={rows}", flush=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
