#!/usr/bin/env python
"""Per-row md5 diff of a registry key: Spark engine vs DuckDB oracle.

The driver's correctness gate reports only a boolean hash_match; when a key
fails there despite passing `tools/check_oracle.py` locally (the
`join_interval_overlap` r13/r14 situation — VERDICT r14 §What's-wrong #1),
this tool captures the divergence at row granularity so the differing row
can be bisected:

  python tools/rowdiff.py join_interval_overlap \
      [--sf /root/testdata/sf0.01] [--shuffle 32] [--out rowdiff.txt]

For each engine it canonicalizes every row (column-name-sorted, repr'd with
floats in full 17-digit form so 1-ulp drift is visible) and md5s it, then
prints: per-engine row count, md5-multiset symmetric difference, and the
first N differing rows from each side verbatim. Zero difference → the two
engines are bit-identical on this key in THIS environment, and a driver
FAIL must come from an environment divergence (DuckDB version, TZ,
partitioning) — re-run with --shuffle swept (e.g. 3, 32, 200) to rule the
Spark plan in or out.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import sys
from collections import Counter

sys.path.insert(0, ".")


def _canon_val(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)  # repr round-trips doubles exactly
    if isinstance(v, (list, tuple)) or (
        hasattr(v, "__len__") and hasattr(v, "dtype")
    ):
        return "[" + ",".join(_canon_val(x) for x in v) + "]"
    if hasattr(v, "item"):
        return _canon_val(v.item())
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon_rows(pdf, cols):
    pdf = pdf[cols]
    out = []
    for t in pdf.itertuples(index=False):
        line = "|".join(_canon_val(v) for v in t)
        out.append((hashlib.md5(line.encode()).hexdigest(), line))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("key")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--shuffle", type=int, default=32)
    ap.add_argument("--show", type=int, default=10)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry
    from kdb_spark.session import get_spark

    q = entry.queries()[args.key]
    osql = entry.oracle_sql()[args.key]

    spark = get_spark(f"rowdiff-{args.key}", cpus=32, driver_memory="24g")
    spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle))
    sdf = q(spark, args.sf).toPandas()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )
    odf = con.execute(osql).fetchdf()

    cols = sorted(sdf.columns)
    if sorted(odf.columns) != cols:
        print(f"SCHEMA MISMATCH: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return 2

    srows = canon_rows(sdf, cols)
    orows = canon_rows(odf, cols)
    sc = Counter(h for h, _ in srows)
    oc = Counter(h for h, _ in orows)
    only_s = sc - oc
    only_o = oc - sc

    lines = [
        f"key={args.key} sf={args.sf} shuffle={args.shuffle}",
        f"spark_rows={len(srows)} oracle_rows={len(orows)}",
        f"rows_only_in_spark={sum(only_s.values())} rows_only_in_oracle={sum(only_o.values())}",
        f"columns={cols}",
    ]
    if not only_s and not only_o:
        lines.append("BIT-EXACT: zero differing rows in this environment")
    else:
        smap = {h: l for h, l in srows}
        omap = {h: l for h, l in orows}
        lines.append("--- first differing rows, spark side ---")
        for h in list(only_s)[: args.show]:
            lines.append(f"  {smap[h]}")
        lines.append("--- first differing rows, oracle side ---")
        for h in list(only_o)[: args.show]:
            lines.append(f"  {omap[h]}")
    text = "\n".join(lines)
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    spark.stop()
    return 0 if not only_s and not only_o else 1


if __name__ == "__main__":
    sys.exit(main())
