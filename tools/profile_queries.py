"""Per-query phase profiler for the optimization rounds.

For each named query: time the PLAN BUILD (the registry fn call — pure
driver/py4j work), the cold first execution, and the warm steady state
(min of N), all against the noop sink (guide §1.4) so the measurement
is the computation, not result collection.  The warm builds are served
by the registry plan cache, so ``warm_build_s`` times a cache hit;
``plan_hits`` / ``plan_misses`` count the query's registry lookups.
Also dumps the AQE-initial
``explain("formatted")`` and counts plan features (Exchange /
BatchEvalPython / ArrowEvalPython / MapInPandas / SortMergeJoin /
BroadcastHashJoin) so before/after claims are mechanical.

Usage: python tools/profile_queries.py q_a q_b ...  (no args = top set)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, PROFILE_REPS (default 3),
PROFILE_OUT (json path).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_forecast_mlops_at_scale_spark.cache import clear_slots, memo_stats
from sales_forecast_mlops_at_scale_spark.plans import all_queries
from sales_forecast_mlops_at_scale_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PLAN_FEATURES = (
    "Exchange",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Sort ",
    "Window",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
)


def plan_counts(txt: str) -> dict[str, int]:
    out = {}
    for feat in PLAN_FEATURES:
        n = len(re.findall(r"\b" + feat.strip().replace(" ", "") + r"\b", txt))
        if n:
            out[feat.strip()] = n
    return out


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    if not names:
        names = [n for n in registry]
    reps = int(os.environ.get("PROFILE_REPS", "3"))
    results = {}
    # one warm-up to load JVM/classes
    registry[names[0]].fn(spark, SF_DIR).count()
    clear_slots()
    spark.catalog.clearCache()
    for name in names:
        qd = registry[name]
        spark.sparkContext.setJobDescription(name)
        rec: dict[str, object] = {}
        before = memo_stats()["registry"]
        try:
            t0 = time.perf_counter()
            df = qd.fn(spark, SF_DIR)
            rec["build_s"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            rec["explain_s"] = round(time.perf_counter() - t0, 3)
            rec["plan_counts"] = plan_counts(plan)
            rec["plan"] = plan
            # cold run (noop sink: computes every column, no driver collect)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["cold_s"] = round(time.perf_counter() - t0, 3)
            walls = []
            builds = []
            for _ in range(reps):
                t0 = time.perf_counter()
                df2 = qd.fn(spark, SF_DIR)
                builds.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                df2.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            rec["warm_build_s"] = round(min(builds), 3)
            rec["warm_exec_s"] = round(min(walls), 3)
            # count()-based warm wall for parity with bench methodology
            t0 = time.perf_counter()
            qd.fn(spark, SF_DIR).count()
            rec["warm_count_s"] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
        after = memo_stats()["registry"]
        rec["plan_hits"] = after["hits"] - before["hits"]
        rec["plan_misses"] = after["misses"] - before["misses"]
        results[name] = rec
        clear_slots()
        spark.catalog.clearCache()
        line = {k: v for k, v in rec.items() if k != "plan"}
        print(name, json.dumps(line), flush=True)
    out = os.environ.get("PROFILE_OUT")
    if out:
        with open(out, "w", encoding="utf-8") as fh:
            json.dump(results, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
