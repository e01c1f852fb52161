#!/usr/bin/env python
"""Dump the full formatted physical plan of every registered query to a
directory (default /tmp/plans_all) for shape grepping — SortAggregate,
CartesianProduct, row-wise Python nodes, Sort-before-Window audits.

Usage: python tools/dump_raw_plans.py [--sf DIR] [--out DIR] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/plans_all")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from kdb_spark.session import get_spark

    spark = get_spark("rawplans", cpus=8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    qs = entry.queries()
    if args.names:
        qs = {k: qs[k] for k in args.names}
    os.makedirs(args.out, exist_ok=True)
    failed = []
    for name, fn in qs.items():
        try:
            df = fn(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(f"ok   {name}")
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: {exc!r}")
    print(f"\n{len(qs) - len(failed)} ok, {len(failed)} failed -> {args.out}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
