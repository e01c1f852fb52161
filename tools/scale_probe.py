#!/usr/bin/env python
"""Empirical scaling audit: does each operator's runtime grow like its plan
says it should when the data grows KxK?

Generates salted replicas of the sf0.1 tables at /tmp (never touches
/root/testdata): documents get a per-replica token woven into every 3rd
position, so cross-replica docs share no 3-gram shingle and the TRUE
near-dup pair count scales linearly (exact copies would make output —
and any correct engine's work — grow quadratically in K, which would
measure semantics, not the engine). Embeddings get a deterministic
per-replica component scaling; events shift user_id/event_id so series
count scales with K while the probed time range keeps constant selectivity.

Usage: python tools/scale_probe.py [--scales 1,8,32] [ops...]
Prints per-op wall times and the growth ratio vs the K=1 run; flags
ratios > 1.5x K as super-linear. Fixed per-query overhead (codegen,
job scheduling — a second or so at these sizes) makes sub-K ratios
normal; the audit hunts blow-ups, not constants.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ops worth auditing: the shuffle/join/iteration-heavy ones plus one
# representative per map-only family
DEFAULT_OPS = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_cluster",
    "text_stats",
    "token_count_bpe",
    "sim_search_topk",
    "ann_search_topk",
    "ivf_search_topk",
    "emb_kmeans",
    "agg_resample",
    "kernel_get_dense",
    "join_asof",
    "join_window",
    "join_interval",
    "join_skew_salted",
    "join_skew_hot",
    "win_moving_avg",
    "sessionize",
    # r14 wave: the shuffle-bearing additions (prefix blocking, gram
    # first-seen join, candle rollup + window)
    "dedup_prefix",
    "text_ngram_novelty",
    "win_vortex",
    "join_band",
]


def _join_skew_hot(spark, d):
    """Skew replica for the salted join: remap ~30% of lineitem probe rows
    onto ONE order key so the hot path actually fires (the replicated
    generator keeps per-key counts constant, so the registered query only
    ever exercises the cold path). hot_threshold is held at a fixed row
    count: the hot key's row count grows with K while every cold key stays
    constant, which is exactly the skew a blanket threshold must absorb."""
    from pyspark.sql import functions as F

    from kdb_spark.analytics import joins as jn
    from kdb_spark.tables import load

    li = load(spark, d, "lineitem").withColumn(
        "l_orderkey",
        F.when(
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(10)) < 3,
            F.lit(1).cast("long"),
        ).otherwise(F.col("l_orderkey")),
    )
    return jn.join_skew_salted(li, load(spark, d, "orders"), hot_threshold=100_000)


# probe-only ops (not registered queries): name -> callable(spark, sf_dir)
EXTRA_OPS = {"join_skew_hot": _join_skew_hot}


def gen_scaled(k: int) -> str:
    import duckdb

    # Generate into a temp dir and atomically rename into place on success:
    # a crashed prior run must not leave a partial dataset that silently
    # skews every later audit (reuse only when the rename completed).
    final = f"/tmp/kdbs_scale_k{k}"
    if os.path.isdir(final):
        return final
    out = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT d.doc_id + r.i * 1000000 AS doc_id,
               CASE WHEN r.i = 0 THEN d.text ELSE
                 list_aggregate(
                   list_transform(string_split(d.text, ' '),
                     (t, j) -> CASE WHEN j % 3 = 0 THEN t || '~r' || r.i
                               ELSE t END),
                   'string_agg', ' ')
               END AS text,
               d.lang, d.source, d.n_chars
        FROM read_parquet('{BASE}/documents.parquet') d, range({k}) r(i)
      ) TO '{out}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
      COPY (
        SELECT e.vec_id + r.i * 1000000 AS vec_id,
               list_transform(e.embedding,
                 (x, j) -> CAST(x * (1.0 + 0.01 * ((r.i * 7 + j) % 5)) AS FLOAT)
               ) AS embedding,
               e.label
        FROM read_parquet('{BASE}/embeddings.parquet') e, range({k}) r(i)
      ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
      COPY (
        -- value shifted +1000·replica: cross-replica rows must never
        -- co-band, or a value-band join's TRUE pair count grows K²
        -- (the same answer-growth trap the document salting avoids)
        SELECT e.event_id + r.i * 100000000 AS event_id, e.ts,
               e.user_id + r.i * 1000000 AS user_id,
               e.event_type, e.value + 1000.0 * r.i AS value, e.props
        FROM read_parquet('{BASE}/events.parquet') e, range({k}) r(i)
      ) TO '{out}/events.parquet' (FORMAT PARQUET)
    """)
    # TPC-H side: shift every key by the same replica offset so joins still
    # resolve (orders→customer, lineitem→orders/part/supplier); dims
    # nation/region stay fixed (broadcast side shouldn't grow with the fact)
    S = 10_000_000
    con.execute(f"""
      COPY (
        SELECT l.l_orderkey + r.i*{S} AS l_orderkey,
               l.l_partkey + r.i*{S} AS l_partkey,
               l.l_suppkey + r.i*{S} AS l_suppkey,
               l.l_linenumber, l.l_quantity, l.l_extendedprice, l.l_discount,
               l.l_tax, l.l_returnflag, l.l_linestatus, l.l_shipdate
        FROM read_parquet('{BASE}/lineitem.parquet') l, range({k}) r(i)
      ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
      COPY (
        SELECT o.o_orderkey + r.i*{S} AS o_orderkey,
               o.o_custkey + r.i*{S} AS o_custkey,
               o.o_orderstatus, o.o_totalprice, o.o_orderdate, o.o_orderpriority
        FROM read_parquet('{BASE}/orders.parquet') o, range({k}) r(i)
      ) TO '{out}/orders.parquet' (FORMAT PARQUET)
    """)
    for t, key in (("customer", "c_custkey"), ("part", "p_partkey"),
                   ("supplier", "s_suppkey")):
        cols = [c for c in con.execute(
            f"SELECT * FROM read_parquet('{BASE}/{t}.parquet') LIMIT 0"
        ).description]
        names = [c[0] for c in cols]
        sel = ", ".join(
            f"t.{c} + r.i*{S} AS {c}" if c == key else f"t.{c}" for c in names
        )
        con.execute(f"""
          COPY (SELECT {sel}
                FROM read_parquet('{BASE}/{t}.parquet') t, range({k}) r(i))
          TO '{out}/{t}.parquet' (FORMAT PARQUET)
        """)
    for t in ("nation", "region"):
        con.execute(f"""
          COPY (SELECT * FROM read_parquet('{BASE}/{t}.parquet'))
          TO '{out}/{t}.parquet' (FORMAT PARQUET)
        """)
    os.rename(out, final)
    return final


def run_probe(
    spark,
    scales: list[int],
    ops: list[str],
    *,
    keep: bool = False,
    echo=print,
    flag_factor: float = 1.5,
) -> tuple[dict[str, dict[int, float]], list[str]]:
    """Run the growth audit and return (per-op timings, super-linear ops).

    Shared by the CLI below and tests/test_scale.py (`pytest -m scale`),
    so super-linear growth is a failing TEST, not just a doc audit.
    ``flag_factor``: an op flags when growth > flag_factor × K. The CLI
    keeps the strict 1.5 for the doc audit; the test passes 2.5 because
    the genuinely-linear heavy ops (dedup_cluster, dedup_ngram_jaccard)
    sit at 10–12× on 8× data and ambient noise flips them across a 12×
    cut, while any real blow-up (quadratic = 64× at K=8) clears either
    threshold by miles."""
    import __spark_entry__ as entry

    qs = entry.queries()
    dirs = {k: gen_scaled(k) for k in scales}

    # warm the session so K=1 doesn't absorb startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    k0, kmax = scales[0], scales[-1]
    echo(f"{'op':26s} " + " ".join(f"K={k:<3d}s" for k in scales)
         + f"  growth(K={kmax}/K={k0})  verdict")
    flagged = []
    results: dict[str, dict[int, float]] = {}
    for name in ops:
        fn = EXTRA_OPS.get(name) or qs.get(name)
        if fn is None:
            print(f"skip {name}: not registered", file=sys.stderr, flush=True)
            continue
        ts: dict[int, float] = {}
        for k in scales:
            t0 = time.time()
            fn(spark, dirs[k]).write.format("noop").mode("overwrite").save()
            ts[k] = time.time() - t0
        results[name] = ts
        ratio = ts[kmax] / max(ts[k0], 1e-9)
        verdict = "OK"
        if ratio > flag_factor * (kmax / k0):
            verdict = "SUPER-LINEAR"
            flagged.append(name)
        elif ratio < 0.6 * (kmax / k0):
            verdict = "sub-linear"
        cols = " ".join(f"{ts[k]:6.2f}" for k in scales)
        echo(f"{name:26s} {cols}  {ratio:6.2f}x            {verdict}")
    if not keep:
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
    return results, flagged


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,8,32")
    ap.add_argument("--keep", action="store_true", help="keep generated dirs")
    ap.add_argument("ops", nargs="*", default=None)
    args = ap.parse_args()
    scales = [int(x) for x in args.scales.split(",")]
    ops = args.ops or DEFAULT_OPS

    from kdb_spark.session import get_spark

    spark = get_spark("scale_probe", driver_memory="48g")
    _, flagged = run_probe(spark, scales, ops, keep=args.keep)
    print(f"\nflagged super-linear: {flagged or 'none'}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
