#!/usr/bin/env python
"""Targeted per-key perf probe for optimization rounds.

For each named key: builds the query at --sf in a bench-grade session
(the same factory and ``bench.warm_up`` as bench.py), optionally dumps the
`.explain("formatted")` physical plan to --plans-dir/<key>_<tag>.txt,
then times --reps noop-sink executions (run 1 = cold, rest = warm).

Usage:
    python tools/perf_probe.py [--sf DIR] [--reps 5] \
        [--plans-dir plans/<round> --tag before] key [key ...]

Prints one line per key:  <key>  cold  w1 w2 ...  (median-warm X)

Rounds 16-17's plan dumps are in git history only, e.g.
``git show e9615bf:plans/r16/<key>_<tag>.txt``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default="before")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from bench import warm_up
    from kdb_spark.session import get_spark

    spark = get_spark("kdb_spark_perf_probe", cpus=args.cpus)
    warm_up(spark, args.sf, args.cpus)

    qs = entry.queries()
    for name in args.names:
        fn = qs[name]
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = fn(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        runs: list[float] = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        med = statistics.median(runs[1:]) if len(runs) > 1 else runs[0]
        print(
            f"{name}: cold {runs[0]:.3f}  warm {runs[1:]}  (median-warm {med:.3f})",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
