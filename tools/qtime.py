#!/usr/bin/env python
"""Isolated per-query timing + plan capture for optimization work.

Usage:
    python tools/qtime.py NAME [NAME ...] [--reps N] [--explain DIR/SUFFIX]

Times each named registry query (same noop-sink methodology as bench.py)
in ONE Spark session, `--reps` times each (reporting min and all samples),
and optionally writes ``<explain_dir>/<name>_<suffix>.txt`` with
``explain('formatted')`` output. Reads $SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS like bench.py. Prints one JSON line per query.

This is a MEASUREMENT tool (guide §1): min-of-reps in an idle session is
the noise-floor statistic; the committed BENCH_FULL stays the bench.py
protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--explain",
        default=None,
        help="DIR/SUFFIX: write DIR/<name>_<SUFFIX>.txt explain(formatted)",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    from scikit_learn_imputer_spark.session import get_spark
    from scikit_learn_imputer_spark.plans.queries import QUERIES

    spark = get_spark("sli-qtime", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    unknown = sorted(set(args.names) - set(QUERIES))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    # Same warm-up as bench.py: absorb JVM/codegen/parquet-footer spin-up.
    from pyspark.sql import functions as F
    from scikit_learn_imputer_spark.sources.tables import load_table

    warm = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    warm.write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext
    for name in args.names:
        fn = QUERIES[name]
        samples = []
        jobs = []
        for rep in range(max(1, args.reps)):
            # Jobs-per-entry (guide §1.5): the jobs of this rep's own job
            # group — eager checkpoints included, and pool jobs too, since
            # the registry's thread pools hand the group to their threads.
            group = f"qtime:{name}:{rep}"
            sc.setJobGroup(group, f"qtime:{name}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        if args.explain:
            d, suffix = args.explain.rsplit("/", 1)
            os.makedirs(d, exist_ok=True)
            df = fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(d, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(txt)
        print(
            json.dumps(
                {
                    "query": name,
                    "min": min(samples),
                    "samples": samples,
                    "jobs": jobs,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
