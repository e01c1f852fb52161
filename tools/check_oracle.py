#!/usr/bin/env python
"""Local stand-in for the driver's t2 correctness gate.

Runs every `queries()` entry at sf0.01 (or --sf) alongside its
`oracle_sql()` DuckDB query and compares: row count, sorted column names,
and order-insensitive values — BIT-EXACT, including floats (the driver
hashes raw values, so a 1-ulp drift is a driver FAIL; --tol exists only
for debugging a divergence).

With ``--rows N`` a failing key also prints the md5-multiset difference
of its canonical rows (floats in full repr, so 1-ulp drift shows) and the
first N differing rows of each engine, to bisect the divergence. Zero
difference on a key that fails an outside hash gate means the divergence
is in the environment; sweep ``--shuffle`` (e.g. 3, 32, 200) to rule the
Spark plan in or out.

Usage: python tools/check_oracle.py [--sf DIR] [--rows N] [--shuffle N] [names...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import struct
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, ".")


def _norm_val(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return v
    # array columns: Spark → list, DuckDB → numpy ndarray; normalize both
    # to plain tuples so they sort and compare element-wise
    if isinstance(v, (list, tuple)) or (
        hasattr(v, "__len__") and hasattr(v, "dtype")
    ):
        return tuple(_norm_val(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def normalize(df, cols):
    """pandas frame → list of row tuples, column-name sorted, row sorted."""
    df = df[cols]
    rows = [tuple(_norm_val(v) for v in t) for t in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


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


def row_diff(spdf, odf, cols, show: int) -> str:
    """md5-multiset difference of the two engines' canonical rows, plus the
    first ``show`` rows found on only one side."""
    canon = {}
    counts = []
    for df in (spdf, odf):
        c = Counter()
        for t in df[cols].itertuples(index=False):
            line = "|".join(_canon_val(v) for v in t)
            h = hashlib.md5(line.encode()).hexdigest()
            canon[h] = line
            c[h] += 1
        counts.append(c)
    only_s, only_o = counts[0] - counts[1], counts[1] - counts[0]
    lines = [
        f"  rows_only_in_spark={sum(only_s.values())} "
        f"rows_only_in_oracle={sum(only_o.values())}"
    ]
    for side, only in (("spark", only_s), ("oracle", only_o)):
        lines.append(f"  --- first differing rows, {side} side ---")
        lines += [f"    {canon[h]}" for h in list(only)[:show]]
    return "\n".join(lines)


def values_equal(a, b, tol: float = 0.0):
    """EXACT by default (r10): the driver's correctness gate hashes raw
    values, so two floats a ulp apart ARE a driver FAIL — the r9 win_macd
    mismatch passed this checker's old 1e-9 tolerance and failed the
    driver. ``tol`` stays available (--tol) for debugging a divergence,
    never for declaring a key green."""
    if a is None and b is None:
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            values_equal(x, y, tol) for x, y in zip(a, b)
        )
    if isinstance(a, float) and isinstance(b, (float, int)):
        if math.isnan(a) and isinstance(b, float) and math.isnan(b):
            return True
        b = float(b)
        if tol:
            return abs(a - b) <= tol * max(1.0, abs(a))
        # bitwise: distinguishes 0.0/-0.0 and catches 1-ulp drift, exactly
        # like the driver's value hash
        return struct.pack(">d", a) == struct.pack(">d", b)
    if isinstance(b, float) and isinstance(a, int):
        return values_equal(float(a), b, tol)
    return a == b


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--tol", type=float, default=0.0, help="debug-only tolerance; green requires exact")
    ap.add_argument("--rows", type=int, default=0, help="on a failing key, print its md5 row diff and first N differing rows")
    ap.add_argument("--shuffle", type=int, default=None, help="spark.sql.shuffle.partitions for the run")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import types as T

    import __spark_entry__ as entry
    from kdb_spark.session import get_spark

    spark = get_spark("check_oracle", cpus=8, driver_memory="8g")
    if args.shuffle:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle))

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = args.names or list(qs)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        # HARD schema gate (r16, from the r15 driver FAILs): the driver's
        # pandas canonicalization cannot hash list/dict cells (Array/Map/
        # Struct final columns crash it) and hashes Spark Decimal objects
        # differently from DuckDB's HUGEINT→float64 — so these types are
        # FORBIDDEN in any final schema, full stop.
        bad_types = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in sdf.schema.fields
            if isinstance(
                f.dataType,
                (T.ArrayType, T.MapType, T.StructType, T.DecimalType),
            )
        ]
        if bad_types:
            print(
                f"FAIL {name}: forbidden final-schema type(s) — the driver "
                f"crashes on array/map/struct cells and hash-mismatches "
                f"decimals — {'; '.join(bad_types)}"
            )
            n_fail += 1
            continue
        try:
            spdf = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spdf)} rows, cols={sorted(spdf.columns)} "
                  f"({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        scols, ocols = sorted(spdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} != {ocols}")
            n_fail += 1
            continue
        if len(spdf) != len(odf):
            print(f"FAIL {name}: rows {len(spdf)} != {len(odf)}")
            if args.rows:
                print(row_diff(spdf, odf, scols, args.rows))
            n_fail += 1
            continue
        # dtype-mismatch hazard (r15): pandas surfaces DuckDB HUGEINT (any
        # window SUM of integers) and nullable-int columns as float64 while
        # Spark emits int64; values_equal coerces int<->float so the key
        # passes HERE but the driver hashes raw values and FAILS (the
        # join_interval_overlap r13/r14 story). Flag it loudly.
        dtype_warn = []
        for c in scols:
            sk, ok = spdf[c].dtype.kind, odf[c].dtype.kind
            # int-vs-float (HUGEINT/nullable-int coercion) AND
            # object-vs-numeric (Decimal objects — the r15 blind spot):
            # values_equal coerces, the driver's raw-value hash does not
            hazard = {sk, ok} == {"i", "f"} or (
                "O" in {sk, ok} and {sk, ok} & {"i", "f"}
            )
            if hazard and not (odf[c].isna().any() or spdf[c].isna().any()):
                dtype_warn.append(f"{c}: spark={spdf[c].dtype} duck={odf[c].dtype}")
        if dtype_warn:
            print(f"DTYPE-WARN {name}: cross-engine dtype split — driver "
                  f"hash hazard — {'; '.join(dtype_warn)}")
        srows = normalize(spdf, scols)
        orows = normalize(odf, ocols)
        bad = None
        for i, (r1, r2) in enumerate(zip(srows, orows)):
            if len(r1) != len(r2) or not all(values_equal(a, b, args.tol) for a, b in zip(r1, r2)):
                bad = (i, r1, r2)
                break
        if bad:
            print(f"FAIL {name}: first diff at sorted row {bad[0]}:\n  spark: {bad[1]}\n  duck : {bad[2]}")
            if args.rows:
                print(row_diff(spdf, odf, scols, args.rows))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail / {len(names)}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
