"""Per-query profiler for the optimization rounds (guide §1).

Times EVERY registered query with the noop sink (warm-up + best-of-2,
same protocol as bench.py) under the bench session config, and captures
``explain("formatted")`` plus plan-shape stats (Exchange count, join
strategies, Python-eval nodes) so optimizations can be targeted and
verified by plan diff, not vibes.

Usage:
    python tools/profile_queries.py [sf_dir] [--explain-only] \
        [--out /tmp/profile.json] [--plans-dir /tmp/plans] \
        [--only name1,name2,...]

Writes one JSON map {name: {sec, build_s, build_jobs, exchanges,
joins, python_nodes, rows}} and, when --plans-dir is given, one
<name>.txt per query with the formatted plan.  ``build_s`` and
``build_jobs`` are the wall time and the Spark jobs (counted by job
group) of the query's first ``fn`` call, which builds the DataFrame;
``sec`` includes a build too.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_stats(plan: str) -> dict:
    """Shape stats from an explain('formatted') dump."""
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "joins": sorted(
            set(
                re.findall(
                    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                    r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                    plan,
                )
            )
        ),
        "python_nodes": sorted(
            set(
                re.findall(
                    r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                    r"MapInPandas|FlatMapGroupsInPandas|"
                    r"TransformWithStateInPandas)\b",
                    plan,
                )
            )
        ),
        "codegen_spans": len(re.findall(r"WholeStageCodegen \(\d+\)", plan)),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--explain-only", action="store_true")
    ap.add_argument("--out", default="/tmp/profile.json")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from finance_etl_pipeline_spark.plans import all_queries, build_counting_jobs
    from finance_etl_pipeline_spark.session import get_spark

    SparkSession.getActiveSession() and SparkSession.getActiveSession().stop()
    spark = get_spark(app_name="profile", shuffle_partitions=16)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 16))
    spark.sparkContext.setLogLevel("ERROR")

    registry = all_queries()
    names = sorted(registry)
    if args.only:
        want = set(args.only.split(","))
        names = [n for n in names if n in want]

    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    import gc

    out: dict[str, dict] = {}
    for qi, name in enumerate(names):
        if qi % 8 == 7:
            spark.catalog.clearCache()
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001
                pass
        qdef = registry[name]
        rec: dict = {}
        try:
            t0 = time.perf_counter()
            df, rec["build_jobs"] = build_counting_jobs(qdef, spark, args.sf_dir)
            rec["build_s"] = round(time.perf_counter() - t0, 4)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            rec.update(plan_stats(plan))
            if args.plans_dir:
                with open(
                    os.path.join(args.plans_dir, f"{name}.txt"), "w"
                ) as fh:
                    fh.write(plan)
            if not args.explain_only:
                spark.sparkContext.setJobDescription(f"profile:{name}")
                df.write.format("noop").mode("overwrite").save()  # warm-up
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    qdef.fn(spark, args.sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.perf_counter() - t0)
                rec["sec"] = round(best, 4)
                spark.sparkContext.setJobDescription(None)
        except Exception as e:  # noqa: BLE001
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        out[name] = rec
        sys.stderr.write(
            f"[{qi + 1}/{len(names)}] {name}: "
            f"{rec.get('sec', rec.get('error', 'plan-only'))}\n"
        )
        sys.stderr.flush()

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(args.out)
    spark.stop()
    return 0


if __name__ == "__main__":
    main()
