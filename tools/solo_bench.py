"""Warm-solo timing + formatted-plan capture for named queries.

Usage: python tools/solo_bench.py <sf_dir> <n_runs> <query> [query ...]
       [--plan-dir plans --plan-suffix _before]

For each query: builds the DataFrame fresh per run (construction time is
part of the driver contract's measurement), executes via the noop sink,
reports each run's seconds and the best, and (optionally) writes
``.explain("formatted")`` of the LAST run's frame to
``<plan-dir>/<query><plan-suffix>.txt``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from big_data_project_datapipeline_spark.session import get_spark
from big_data_project_datapipeline_spark.tables import TABLE_NAMES, load_table


def main() -> None:
    args = sys.argv[1:]
    plan_dir = None
    plan_suffix = ""
    if "--plan-dir" in args:
        i = args.index("--plan-dir")
        plan_dir = args[i + 1]
        del args[i : i + 2]
    if "--plan-suffix" in args:
        i = args.index("--plan-suffix")
        plan_suffix = args[i + 1]
        del args[i : i + 2]
    sf_dir, n_runs, names = args[0], int(args[1]), args[2:]
    spark = get_spark(app_name="solo_bench")
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).count()
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        best = None
        df = None
        for r in range(n_runs):
            spark.sparkContext.setJobDescription(f"{name} run{r}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
            print(f"RUN {name} {r} {el:.3f}", flush=True)
        print(f"BEST {name} {best:.3f}", flush=True)
        if plan_dir and df is not None:
            os.makedirs(plan_dir, exist_ok=True)
            with open(
                os.path.join(plan_dir, f"{name}{plan_suffix}.txt"), "w"
            ) as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                ))


if __name__ == "__main__":
    main()
