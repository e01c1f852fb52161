#!/usr/bin/env python
"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR.

Each query is forced to full execution with the noop sink (all partitions
computed, nothing collected to the driver — measures engine time, not
driver materialization). Prints ONE JSON line:

    {"metric": "total_query_wall_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": "..."}

The driver captures only the last ~2000 chars of stdout, so the final line
keeps "queries" to a fixed headline subset (all categories represented);
the complete per-query timing map is written to bench_full.json alongside.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entry
    from kdb_spark.session import get_spark

    spark = get_spark("kdb_spark_bench", cpus=cpus)
    warm_up(spark, sf_dir, cpus)

    qs = entry.queries()
    if hasattr(entry, "registration_order"):
        # fixed cross-round timing order — the driver-rotation order moves
        # different keys to the session head each round, and head keys
        # absorb residual startup cost (r13 flip audit)
        qs = {k: qs[k] for k in entry.registration_order()}
    if len(sys.argv) > 1:  # iterate on a subset: python bench.py name1 name2
        qs = {k: qs[k] for k in sys.argv[1:]}
    # Each query runs twice: the first (cold) execution includes its
    # whole-stage-codegen compile, the second (warm) is steady state. `value`
    # stays the cold total — the metric every prior round recorded — and the
    # warm map quantifies compile overhead per query instead of narrating it.
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name, fn in qs.items():
        try:
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
            t1 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            warm[name] = round(time.time() - t1, 3)
        except Exception as exc:  # noqa: BLE001 — record the failure, keep benching
            print(f"BENCH-ERROR {name}: {exc!r}", file=sys.stderr)
            timings.setdefault(name, -1.0)
            warm[name] = -1.0

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    total_warm = round(sum(t for t in warm.values() if t >= 0), 3)
    n_err = sum(1 for t in timings.values() if t < 0)

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"), "w") as f:
        json.dump(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_warm": warm,
                "total_warm_sec": total_warm,
                "sf": sf_dir,
                "n_queries": len(timings),
                "n_errors": n_err,
            },
            f,
            indent=1,
        )

    # one category-representative query each, so the compact line still tracks
    # kernel / agg / window / join / scalar / stream / dedup / similarity perf
    headline = [
        "kernel_get_dense", "kernel_find_dense", "agg_resample", "agg_distinct",
        "agg_rollup", "win_moving_avg", "win_lag_delta", "join_enrich_broadcast",
        "join_equi_shuffle", "join_asof", "topk_per_group", "scalar_string",
        "ingest_stream", "stream_tumbling_agg", "stream_latest_state",
        "dedup_exact", "dedup_near_minhash", "dedup_simhash", "dedup_cluster",
        "sim_search_topk", "ann_search_topk", "emb_kmeans", "decontaminate",
        "text_stats",
        # round-6 families: PQ index, sketch quantiles, behavioral windows,
        # composed curation pipeline
        "pq_search_topk", "agg_quantile_sketch", "agg_funnel",
        "pipeline_corpus_prep",
        # round-7/9 families: graph, tick analytics, SQL-text entries
        "graph_pagerank", "graph_triangle_count", "agg_twap",
        "sql_ship_priority",
        # round-10 families: drift tests, quality-aware dedup, CDF reads
        "agg_chi2_drift", "dedup_keep_best", "scan_changes",
        # round-15 families: trend tests, Bloom pre-screen, compressed decode
        "agg_mann_kendall", "dedup_bloom_probe", "mm_decode_png",
        # round-16 families: classical tests, perplexity proxy, spatial kNN
        "agg_welch_t", "quality_unigram_logprob", "join_grid_knn",
    ]
    print(
        json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": {k: timings[k] for k in headline if k in timings},
                "sf": sf_dir,
                "n_queries": len(timings),
                "n_errors": n_err,
                "total_warm_sec": total_warm,
                "full": "bench_full.json",
            },
            separators=(",", ":"),
        )
    )
    spark.stop()
    return 0


def warm_up(spark, sf_dir: str, cpus: int) -> None:
    """Pay the session's one-time costs before anything is timed: JVM and
    codegen spin-up, table file listing, the Python worker pool, and the
    JIT compiles of the window, regex, join and union executor paths."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kdb_spark.tables import TABLE_NAMES, load

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLE_NAMES:
        load(spark, sf_dir, t).count()

    # spin up the Python worker daemon pool (long-lived on a real cluster)
    def _ident(batches):
        yield from batches

    (
        spark.range(cpus * 10)
        .repartition(cpus)
        .mapInPandas(_ident, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # JIT/codegen INFRASTRUCTURE warm-up: compile-and-run three throwaway
    # plan shapes (window chain, regexp explode-agg, shuffle join) so the
    # first timed queries don't absorb the one-time JVM compilation of the
    # window/regex/join executor classes — without this, per-key cold
    # timings depend on registry order (the first ~5 queries measured
    # 2-4x their steady-state cold cost). These plans are distinct from
    # every timed query, so each timed query still pays its OWN
    # whole-stage-codegen compile — the cost the cold metric is defined
    # to include.
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    (
        ev.withColumn("l", F.lag("value", 2).over(w))
        .withColumn("s", F.sum("value").over(w.rowsBetween(-5, -1)))
        .groupBy("user_id")
        .agg(F.max("s"), F.min("l"))
        .write.format("noop").mode("overwrite").save()
    )
    docs = load(spark, sf_dir, "documents")
    (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower("source"), F.lit("[a-z]{2,}"), 0)
            ).alias("t")
        )
        .groupBy("t").count()
        .write.format("noop").mode("overwrite").save()
    )
    o, c = load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    (
        o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey").agg(F.count(F.lit(1)))
        .write.format("noop").mode("overwrite").save()
    )
    # union-and-carry (asof-family) executor path: unbounded-frame
    # last/first(ignorenulls) carries over a union — again a distinct plan
    wu = Window.partitionBy("user_id").orderBy("event_id")
    u = ev.select("user_id", "event_id", F.col("value").alias("a"),
                  F.lit(None).cast("double").alias("b")).unionByName(
        ev.select("user_id", (F.col("event_id") + 1).alias("event_id"),
                  F.lit(None).cast("double").alias("a"),
                  F.col("value").alias("b")))
    (
        u.withColumn("ca", F.last("a", ignorenulls=True).over(wu))
        .withColumn("cb", F.first("b", ignorenulls=True).over(
            wu.rowsBetween(0, Window.unboundedFollowing)))
        .groupBy("user_id").agg(F.max("ca"), F.min("cb"))
        .write.format("noop").mode("overwrite").save()
    )

if __name__ == "__main__":
    sys.exit(main())
