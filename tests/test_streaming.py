"""Batch-equivalence tests for the Structured Streaming layer.

The correctness contract (kdb_spark/streaming.py): an AvailableNow run over
the test corpus must converge to the equivalent batch answer. Reference
semantics being modeled: hot-bucket ingest + watermark as the hot/cold
boundary (`dbase/dbase.go:17-20,403-424`), LWW visibility
(`dblock/dblock.go:198-205`).
"""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kdb_spark import StoreConfig, TimeSeriesStore
from kdb_spark import streaming as sm
from kdb_spark.tables import DAY_US, cents, events_us
from tests.conftest import SF_DIR


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def write_microbatch(watch, name, schema_pairs, rws, mtime):
    """Write one parquet file with a pinned mtime so maxFilesPerTrigger=1
    replays the files as ordered micro-batches."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_types = {"long": pa.int64(), "string": pa.string(), "double": pa.float64()}
    t = pa.table(
        {c: [r[i] for r in rws] for i, (c, _) in enumerate(schema_pairs)},
        schema=pa.schema([(c, pa_types[ty]) for c, ty in schema_pairs]),
    )
    p = watch / name
    pq.write_table(t, p)
    os.utime(p, (mtime, mtime))


def test_stream_tumbling_equals_batch(spark):
    got = sm.stream_tumbling_agg(spark, SF_DIR)
    want = (
        events_us(spark, SF_DIR)
        .groupBy(
            "event_type",
            (F.col("ts_us") - F.col("ts_us") % F.lit(3_600_000_000)).alias("hour_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("value")).alias("sum_value_c"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    cols = ["event_type", "hour_us", "n", "sum_value_c", "min_value", "max_value"]
    assert rows(got, *cols) == rows(want, *cols)


def test_stream_dedup_equals_distinct(spark):
    got = sm.stream_dedup(spark, SF_DIR)
    want = events_us(spark, SF_DIR).select(
        "user_id",
        "event_type",
        (F.col("ts_us") - F.col("ts_us") % F.lit(DAY_US)).alias("day_us"),
    ).distinct()
    cols = ["user_id", "event_type", "day_us"]
    assert rows(got, *cols) == rows(want, *cols)


def test_put_stream_into_store(spark, tmp_path):
    """Hot-path ingest: micro-batches route through the same validated
    staging commit as batch Put; the store then serves dense reads."""
    cfg = StoreConfig(
        database_name="hot",
        data_path=str(tmp_path / "db"),
        index_depth=2,
        payload_size=4,
        bucket_duration=1000,
        resolution=10,
    )
    st = TimeSeriesStore(spark, cfg)
    src = str(tmp_path / "src")
    schema = T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("tag1", T.StringType()),
            T.StructField("tag2", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    PA, PB = bytes([1, 2, 3, 4]), bytes([5, 6, 7, 8])
    spark.createDataFrame(
        [(11000, "a", "b", PA), (11010, "a", "c", PB)], schema
    ).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = sm.put_stream(st, stream, lambda: 11999)
    q.awaitTermination()
    out = st.get(11000, 11020, ["a", "b"], now=11999).collect()
    assert [bytes(r["payload"]) for r in out] == [PA, bytes(4)]
    series = {
        (r["tag1"], r["tag2"])
        for r in st.find(11000, 11020, ["a", ""], now=11999).collect()
    }
    assert series == {("a", "b"), ("a", "c")}


def test_stream_latest_state_equals_batch_argmax(spark):
    got = sm.stream_latest_state(spark, SF_DIR)
    want = (
        events_us(spark, SF_DIR)
        .groupBy("user_id", "event_type")
        .agg(
            F.max_by(
                F.struct(
                    F.col("ts_us").alias("last_ts_us"),
                    F.col("value").alias("last_value"),
                ),
                F.struct("ts_us", "event_id"),
            ).alias("s")
        )
        .select("user_id", "event_type", "s.last_ts_us", "s.last_value")
    )
    cols = ["user_id", "event_type", "last_ts_us", "last_value"]
    assert rows(got, *cols) == rows(want, *cols)


def test_stream_counter_delta_drops_late_rows_across_batches(spark, tmp_path):
    """A row arriving in a LATER micro-batch at/before the series' stored
    tail must be dropped (and counted), not chained into a wrong delta:
    deltas for in-order rows stay correct across the boundary."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.streaming.state import GroupStateTimeout

    watch = tmp_path / "src"
    watch.mkdir()
    S = 1_000_000
    cols = ["user_id", "event_type", "ts_us", "event_id", "value"]

    def write(name, rows, mtime):
        t = pa.table(
            {c: [r[i] for r in rows] for i, c in enumerate(cols)},
            schema=pa.schema(
                [
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("ts_us", pa.int64()),
                    ("event_id", pa.int64()),
                    ("value", pa.float64()),
                ]
            ),
        )
        p = watch / name
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    write("b1.parquet", [(1, "c", 10 * S, 0, 1.0), (1, "c", 20 * S, 1, 3.0)], 1_000)
    # batch 2: eid=2 is LATE (ts 15s < stored tail 20s); eid=3 is in order
    write("b2.parquet", [(1, "c", 15 * S, 2, 99.0), (1, "c", 30 * S, 3, 6.0)], 2_000)

    sdf = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_us long, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = sdf.groupBy("user_id", "event_type").applyInPandasWithState(
        sm._delta_fn,
        outputStructType=sm._DELTA_OUT,
        stateStructType=sm._DELTA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = rows(sm._drain(out, "append"), "ts_us", "event_id", "delta")
    # late eid=2 dropped; eid=3 diffs against the batch-1 tail (6.0 - 3.0)
    assert got == [(20 * S, 1, 2.0), (30 * S, 3, 3.0)]


def test_stream_counter_delta_equals_batch_lag(spark):
    from pyspark.sql import Window

    got = sm.stream_counter_delta(spark, SF_DIR)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    want = (
        events_us(spark, SF_DIR)
        .withColumn("delta", F.col("value") - F.lag("value").over(w))
        .filter(F.col("delta").isNotNull())
    )
    cols = ["user_id", "event_type", "ts_us", "event_id", "delta"]
    assert rows(got, *cols) == rows(want, *cols)


def test_stream_ewma_equals_batch_window(spark):
    """Single-drain equivalence: the stateful EWMA must reproduce the batch
    lag-chain values EXACTLY (same addition order, JVM-side round)."""
    from kdb_spark.analytics import windows as wn
    from kdb_spark.tables import events_us

    got = sm.stream_ewma(spark, SF_DIR)
    want = wn.win_ewma(events_us(spark, SF_DIR))
    g = {r.event_id: r.ewma for r in got.collect()}
    w = {r.event_id: r.ewma for r in want.collect()}
    assert g == w


def test_stream_ewma_carries_history_and_drops_late(spark, tmp_path):
    """Across micro-batches: batch-2 rows smooth over batch-1 history via
    state (not just their own batch), and a late row is dropped."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.streaming.state import GroupStateTimeout
    from kdb_spark.analytics.windows import ewma_weights

    watch = tmp_path / "src_ewma"
    watch.mkdir()
    S = 1_000_000
    cols = ["user_id", "event_type", "ts_us", "event_id", "value"]

    def write(name, rws, mtime):
        t = pa.table(
            {c: [r[i] for r in rws] for i, c in enumerate(cols)},
            schema=pa.schema(
                [
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("ts_us", pa.int64()),
                    ("event_id", pa.int64()),
                    ("value", pa.float64()),
                ]
            ),
        )
        p = watch / name
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    write("b1.parquet", [(1, "c", 10 * S, 0, 10.0), (1, "c", 20 * S, 1, 20.0)], 1_000)
    # batch 2: eid=2 LATE (before the stored tail) → dropped; eid=3 on time
    write("b2.parquet", [(1, "c", 15 * S, 2, 99.0), (1, "c", 30 * S, 3, 40.0)], 2_000)

    sdf = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_us long, event_id long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = sdf.groupBy("user_id", "event_type").applyInPandasWithState(
        sm._ewma_fn,
        outputStructType=sm._EWMA_OUT,
        stateStructType=sm._EWMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = {r.event_id: r.ewma for r in sm._drain(out, "append").collect()}
    w = ewma_weights()
    assert set(got) == {0, 1, 3}  # late eid=2 never emitted
    # the stream now emits the FINAL round-6 integer-exact value (the
    # batch _iround6 contract), so compare against round(·, 6)
    assert got[0] == pytest.approx(10.0, abs=1e-9)
    e1 = (w[0] * 20.0 + w[1] * 10.0) / (w[0] + w[1])
    assert got[1] == pytest.approx(round(e1, 6), abs=1e-6)
    # eid=3 must smooth over BOTH batch-1 samples carried in state (and
    # must NOT include the dropped late row)
    e3 = (w[0] * 40.0 + w[1] * 20.0 + w[2] * 10.0) / (w[0] + w[1] + w[2])
    assert got[3] == pytest.approx(round(e3, 6), abs=1e-6)


def test_stream_zscore_equals_batch_window(spark):
    """Integer frame sums make this port exactly equal to the batch window
    query — including NULL z (not NaN) on zero-variance frames."""
    from kdb_spark.analytics import windows as wn
    from kdb_spark.tables import events_us

    got = {r.event_id: (r.z, r.is_outlier)
           for r in sm.stream_zscore(spark, SF_DIR).collect()}
    want = {r.event_id: (r.z, r.is_outlier)
            for r in wn.win_zscore(events_us(spark, SF_DIR)).collect()}
    assert got == want


def test_stream_zscore_carries_history_and_drops_late(spark, tmp_path):
    """Across micro-batches: batch-2 rows are scored against the 31-sample
    cent history carried in state, and a row behind the stored tail is
    dropped (the watermark-analog late contract), never re-scored."""
    import numpy as np

    from pyspark.sql.streaming.state import GroupStateTimeout

    watch = tmp_path / "src_zs"
    watch.mkdir()
    S = 1_000_000
    schema_pairs = [
        ("user_id", "long"),
        ("event_type", "string"),
        ("ts_us", "long"),
        ("event_id", "long"),
        ("xc", "long"),
    ]
    write_microbatch(
        watch, "b1.parquet", schema_pairs,
        [(1, "c", 10 * S, 0, 1000), (1, "c", 20 * S, 1, 2000)], 1_000,
    )
    # batch 2: eid=2 LATE (ts 15s < stored tail 20s) → dropped; eid=3 on time
    write_microbatch(
        watch, "b2.parquet", schema_pairs,
        [(1, "c", 15 * S, 2, 9900), (1, "c", 30 * S, 3, 4000)], 2_000,
    )
    sdf = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_us long, event_id long, xc long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = sdf.groupBy("user_id", "event_type").applyInPandasWithState(
        sm._zscore_fn,
        outputStructType=sm._ZS_OUT,
        stateStructType=sm._ZS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = {r.event_id: r.z for r in sm._drain(out, "append").collect()}
    assert set(got) == {0, 1, 3}  # late eid=2 never emitted
    assert got[0] is None  # single-sample frame: zero variance → NULL

    def zref(frame, x):
        a = np.asarray(frame, dtype=np.float64)
        return float((x - a.mean()) / a.std())

    assert got[1] == pytest.approx(zref([1000, 2000], 2000), abs=1e-9)
    # eid=3 scores over BOTH batch-1 samples from state, minus the late row
    assert got[3] == pytest.approx(zref([1000, 2000, 4000], 4000), abs=1e-9)


def test_stream_quantile_merges_state_across_batches(spark, tmp_path):
    """The histogram state must fold across micro-batches, and — unlike the
    ordered-state ops — the sketch is order-independent: an out-of-order
    row in a later batch is absorbed into the cells, not dropped."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from kdb_spark.analytics.aggregations import QSK_BINS, QSK_HI, QSK_LO

    watch = tmp_path / "src_qs"
    watch.mkdir()
    schema_pairs = [("event_type", "string"), ("value", "double")]
    write_microbatch(
        watch, "b1.parquet", schema_pairs,
        [("c", 100.0), ("c", 100.0), ("c", 100.0)], 1_000,
    )
    # batch 2: one value "earlier" than everything in batch 1 — absorbed
    write_microbatch(
        watch, "b2.parquet", schema_pairs, [("c", 900.0), ("c", 50.0)], 2_000,
    )
    sdf = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = sdf.groupBy("event_type").applyInPandasWithState(
        sm._quantile_fn,
        outputStructType=sm._QS_OUT,
        stateStructType=sm._QS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = sm._drain(out, "update").collect()
    by_n = {r.n: r for r in drained}
    assert set(by_n) == {3, 5}  # one emission per micro-batch, n cumulative
    final = by_n[5]
    width = (QSK_HI - QSK_LO) / QSK_BINS  # 16.0
    # r12: the state fn emits the batch op's 1e-4 GRID value (the exact
    # integer device — round half-up of the exact rational), not the raw
    # double: (6 + 2/3)·16 = 106.666… → 106.6667 on the grid
    # p50: target=3 lands in the 100-bin (bin 6, cells 3 after 1 before it)
    assert final.est_p50 == 1066667 / 1e4
    # p95: target=5 lands in the 900-bin (bin 56), full-bin interpolation —
    # exact on the grid
    assert final.est_p95 == pytest.approx(QSK_LO + (56 + 1) * width, abs=1e-9)


def test_stream_quantile_equals_batch_sketch(spark):
    """State-is-the-sketch: the drained stream's final histogram estimates
    must equal the batch agg_quantile_sketch on the same data."""
    from kdb_spark.analytics import aggregations as agg
    from kdb_spark.tables import events_us

    got = {r.event_type: (r.n, r.est_p50, r.est_p95)
           for r in sm.stream_quantile(spark, SF_DIR).collect()}
    want = {r.event_type: (r.n, r.est_p50, r.est_p95)
            for r in agg.agg_quantile_sketch(events_us(spark, SF_DIR)).collect()}
    assert got == want


def test_stream_cross_dedup_equals_batch(spark):
    """Stream-static LSH join + post-drain verify must converge to the batch
    cross-corpus answer (same candidates, same exact-jaccard gate)."""
    from kdb_spark.llm import dedup as dd
    from kdb_spark.tables import load

    cols = ["doc_id", "n_dups", "min_base", "best_jaccard"]
    got = rows(sm.stream_cross_dedup(spark, SF_DIR), *cols)
    want = rows(dd.dedup_cross_corpus(load(spark, SF_DIR, "documents")), *cols)
    assert got == want


def test_stream_cross_dedup_pairs_unique_across_microbatches(spark, tmp_path):
    """A candidate pair re-observed in a second micro-batch (update-mode
    sinks append per batch) must still count ONCE in n_dups."""
    from kdb_spark.llm import dedup as dd
    from pyspark.sql import functions as F

    shared = "alpha beta gamma delta epsilon zeta eta theta " * 4
    # md5-slot: 22 incoming, 2 base (same gate as the operator)
    docs = spark.createDataFrame(
        [(2, shared + "base"), (22, shared + "incoming")],
        "doc_id long, text string",
    )
    sh = (
        dd._doc_shingles(docs, 3)
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            dd.incoming_gate(20).alias("incoming"),
            F.transform("sh", lambda s: F.xxhash64(s)).alias("sh"),
        )
    )
    base_b = dd.lsh_buckets(sh.filter(~F.col("incoming")), 32, 16).select(
        F.col("doc_id").alias("doc_base"), "band", "bh"
    )
    watch = tmp_path / "src_xd"
    watch.mkdir()
    schema_pairs = [("doc_id", "long"), ("text", "string")]
    # the SAME incoming doc arrives in two micro-batches (landing-file
    # redelivery) — its band matches repeat in batch 2
    write_microbatch(watch, "b1.parquet", schema_pairs, [(22, shared + "incoming")], 1_000)
    write_microbatch(watch, "b2.parquet", schema_pairs, [(22, shared + "incoming")], 2_000)
    s = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
        .filter(dd.incoming_gate(20))
    )
    s_sh = (
        dd._doc_shingles(s, 3)
        .filter(F.size("sh") > 0)
        .select("doc_id", F.transform("sh", lambda x: F.xxhash64(x)).alias("sh"))
    )
    new_b = dd.lsh_buckets(s_sh, 32, 16).select(
        F.col("doc_id").alias("doc_new"), "band", "bh"
    )
    cand = (
        new_b.join(base_b, ["band", "bh"])
        .groupBy("doc_new", "doc_base")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    drained = (
        sm._drain(cand, "update", partitions=4).select("doc_new", "doc_base").distinct()
    )
    out = dd.cross_verify(drained, sh, 0.5).collect()
    assert [(r.doc_id, r.n_dups) for r in out] == [(22, 1)]


def test_stream_topk_accumulates_across_batches(spark, tmp_path):
    """Counts fold across micro-batches; the leaderboard re-ranks as later
    batches change the order; each emission carries the cumulative n_seen."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    watch = tmp_path / "src_topk"
    watch.mkdir()
    schema_pairs = [("event_type", "string"), ("user_id", "long")]
    # batch 1: user 1 leads (2 vs 1)
    write_microbatch(
        watch, "b1.parquet", schema_pairs,
        [("c", 1), ("c", 1), ("c", 2)], 1_000,
    )
    # batch 2: user 2 overtakes (3 vs 2)
    write_microbatch(
        watch, "b2.parquet", schema_pairs,
        [("c", 2), ("c", 2)], 2_000,
    )
    sdf = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = sdf.groupBy("event_type").applyInPandasWithState(
        sm._topk_fn,
        outputStructType=sm._TOPK_OUT,
        stateStructType=sm._TOPK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drained = sm._drain(out, "update").collect()
    by_batch = {}
    for r in drained:
        by_batch.setdefault(r.n_seen, {})[r.rnk] = (r.user_id, r.n)
    assert by_batch[3] == {1: (1, 2), 2: (2, 1)}
    assert by_batch[5] == {1: (2, 3), 2: (1, 2)}


def test_stream_topk_equals_batch_leaderboard(spark):
    got = rows(sm.stream_topk(spark, SF_DIR), "event_type", "user_id", "n", "rnk")
    ev = events_us(spark, SF_DIR)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    want = rows(
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= sm.STREAM_TOPK_K),
        "event_type", "user_id", "n", "rnk",
    )
    assert got == want


def test_rollup_maintain_merges_across_batches(spark, tmp_path):
    """Two micro-batches touching the SAME hour partition must merge partials
    (n adds, sums add, min/min max/max), and a later batch must not disturb
    other hours — the incremental-view contract."""
    watch = tmp_path / "src_mv"
    watch.mkdir()
    schema_pairs = [("event_type", "string"), ("ts_us", "long"), ("value", "double")]
    H = 3_600_000_000
    write_microbatch(
        watch, "b1.parquet", schema_pairs,
        [("c", 10, 5.0), ("c", 20, 7.0), ("c", H + 1, 100.0)], 1_000,
    )
    write_microbatch(
        watch, "b2.parquet", schema_pairs,
        [("c", 30, 1.0)], 2_000,  # same hour 0 as batch 1 → must merge
    )
    sdf = (
        spark.readStream.schema("event_type string, ts_us long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = {(r.event_type, r.hour_us): (r.n, r.sum_c, r.min_c, r.max_c)
           for r in sm.stream_rollup_maintain(spark, SF_DIR, source=sdf).collect()}
    assert out[("c", 0)] == (3, 1300, 100, 700)
    assert out[("c", H)] == (1, 10000, 10000, 10000)


def test_rollup_maintain_state_is_one_row_per_group(spark, tmp_path):
    """State-shape pin (VERDICT r10 #7): the maintained rollup TABLE is the
    operator's durable state, and it must hold EXACTLY one row per
    (event_type, hour_us) no matter how many micro-batches touched that
    hour — a rewrite that appends per-batch partials instead of merging
    would grow the table with every batch and silently stop being a
    rollup. Three batches hit the same hour; the table (the returned frame
    IS the parquet read-back) must still hold one row per distinct
    group."""
    watch = tmp_path / "src_mv_state"
    watch.mkdir()
    schema_pairs = [("event_type", "string"), ("ts_us", "long"), ("value", "double")]
    H = 3_600_000_000
    write_microbatch(watch, "b1.parquet", schema_pairs,
                     [("c", 10, 5.0), ("v", H + 1, 2.0)], 1_000)
    write_microbatch(watch, "b2.parquet", schema_pairs,
                     [("c", 20, 7.0)], 2_000)   # same (c, hour 0)
    write_microbatch(watch, "b3.parquet", schema_pairs,
                     [("c", 30, 1.0)], 3_000)   # same (c, hour 0) again
    sdf = (
        spark.readStream.schema("event_type string, ts_us long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    got = sm.stream_rollup_maintain(spark, SF_DIR, source=sdf).collect()
    keys = [(r.event_type, r.hour_us) for r in got]
    assert sorted(keys) == [("c", 0), ("v", H)], "one row per group, merged"
    by = {k: r for k, r in zip(keys, got)}
    assert (by[("c", 0)].n, by[("c", 0)].sum_c) == (3, 1300)


def _drain_with_state(df, output_mode):
    """Drain like sm._drain but capture per-batch state-store metrics:
    returns (table, [ {operatorName: (numRowsTotal, numRowsRemoved)} ])."""
    import json as _json
    import tempfile
    import uuid

    name = "strm_" + uuid.uuid4().hex[:12]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="kdbs_ck_st_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ops = []
    for p in q.recentProgress:
        d = _json.loads(p.json) if hasattr(p, "json") else p
        if d.get("stateOperators"):
            ops.append(
                {
                    o["operatorName"]: (o["numRowsTotal"], o.get("numRowsRemoved", 0))
                    for o in d["stateOperators"]
                }
            )
    return df.sparkSession.table(name), ops


def _ets_source(spark, watch):
    sdf = (
        spark.readStream.schema("user_id long, event_type string, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    return sdf.withColumn("ets", F.timestamp_micros(F.col("ts_us")))


def test_windowed_distinct_state_one_row_per_key_and_expires(spark, tmp_path):
    """State-shape pin (VERDICT r10 #7) for `stream_windowed_distinct`'s
    REAL plan (`sm._windowed_distinct_plan`): the dedup operator holds ONE
    state row per distinct (type, user, window) among OPEN windows —
    duplicates add nothing, and the watermark REMOVES closed windows'
    rows — and the aggregate holds one row per (type, window) group. A
    rewrite that keeps per-event state, a distinct-set in the aggregate,
    or loses eviction shows up here as a wrong row count."""
    watch = tmp_path / "src_wd"
    watch.mkdir()
    pairs = [("user_id", "long"), ("event_type", "string"), ("ts_us", "long")]
    # b1: day 0, two distinct users; b2/b3: day 80 (same window), four
    # distinct users with one cross-batch duplicate (user 3)
    write_microbatch(watch, "b1.parquet", pairs,
                     [(1, "c", 0), (2, "c", 1_000)], 1_000)
    write_microbatch(watch, "b2.parquet", pairs,
                     [(1, "c", 80 * DAY_US + DAY_US // 2),
                      (2, "c", 80 * DAY_US + 1), (3, "c", 80 * DAY_US + 2)], 2_000)
    write_microbatch(watch, "b3.parquet", pairs,
                     [(3, "c", 80 * DAY_US + 3), (4, "c", 80 * DAY_US + 4)], 3_000)
    tbl, ops = _drain_with_state(
        sm._windowed_distinct_plan(_ets_source(spark, watch)), "complete"
    )
    got = sorted((r.event_type, r.w.start, r.dau) for r in tbl.collect())
    assert [g[2] for g in got] == [2, 4]  # day-0 dau=2, day-80 dau=4
    final = ops[-1]
    # dedup state: exactly the 4 distinct day-80 keys remain — the 2 day-0
    # rows were REMOVED when b3 pushed the watermark past day 1, and user
    # 3's b3 duplicate added no row (5 seen after b2 → 4 after eviction)
    assert final["dedupe"] == (4, 2)
    # aggregate state: one row per (type, window) GROUP — never per user
    assert final["stateStoreSave"][0] == 2


def test_mau_sliding_state_bounded_by_user_windows(spark, tmp_path):
    """State-shape pin (VERDICT r10 #7) for `stream_mau_sliding`'s REAL
    plan (`sm._mau_sliding_plan`): each event expands MAP-SIDE to its ≤30
    covering sliding windows, and dedup state is one row per distinct
    (user, window) — two same-day events of one user hold 30 rows, not
    60, and the aggregate holds one row per window group. A rewrite that
    self-joins per window or keeps per-event state breaks the count."""
    watch = tmp_path / "src_mau"
    watch.mkdir()
    pairs = [("user_id", "long"), ("event_type", "string"), ("ts_us", "long")]
    write_microbatch(watch, "b1.parquet", pairs,
                     [(1, "c", 100 * DAY_US + 1),
                      (1, "c", 100 * DAY_US + 3_600_000_000)], 1_000)
    tbl, ops = _drain_with_state(
        sm._mau_sliding_plan(_ets_source(spark, watch)), "complete"
    )
    assert tbl.count() == 30  # 30 covering windows, each mau=1
    assert all(r.mau == 1 for r in tbl.collect())
    final = ops[-1]
    assert final["dedupe"][0] == 30   # per (user, window), NOT per event
    assert final["stateStoreSave"][0] == 30  # one row per window group


def test_stream_asof_enrich_batch_boundary_independent(spark, tmp_path):
    """Two micro-batches of clicks must each resolve against the FULL static
    dimension: a click in batch 2 still sees an error that precedes batch
    1's clicks, and the drained union equals the batch as-of."""
    from kdb_spark.analytics import joins as jn
    from kdb_spark.tables import events_us
    from tests.conftest import SF_DIR

    watch = tmp_path / "src_aj"
    watch.mkdir()
    schema_pairs = [("event_id", "long"), ("user_id", "long"),
                    ("event_type", "string"), ("ts_us", "long")]
    # split the sf0.001 clicks into two mtime-ordered files
    ev = events_us(spark, SF_DIR)
    clicks = sorted(
        ((r.event_id, r.user_id, "click", r.ts_us)
         for r in ev.filter("event_type = 'click'").collect()),
        key=lambda t: t[0],
    )
    half = len(clicks) // 2
    write_microbatch(watch, "b1.parquet", schema_pairs, clicks[:half], 1_000)
    write_microbatch(watch, "b2.parquet", schema_pairs, clicks[half:], 2_000)
    sdf = (
        spark.readStream
        .schema("event_id long, user_id long, event_type string, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    got = rows(sm.stream_asof_enrich(spark, SF_DIR, source=sdf),
               "event_id", "user_id", "asof_value")
    want = rows(jn.join_asof(ev), "event_id", "user_id", "asof_value")
    assert got == want and len(got) > 0


def test_stream_ewma_guard_raises_outside_int64_fold_domain():
    """The r11 ADVICE guard: numpy int64 folds WRAP silently, so a tick
    whose |cents| exceeds the exact fold domain must raise loudly instead
    of emitting a silently-wrong EWMA (the batch op widens to decimal at
    the same step, so an unguarded stream would break the documented
    batch-stream bit-parity). Drives _ewma_fn directly with a stub state."""
    import numpy as np
    import pandas as pd
    import pytest as pt

    class _State:
        exists = False

        def update(self, v):
            self.exists = True
            self.get = v

    ok = pd.DataFrame(
        {
            "user_id": [1],
            "event_type": ["c"],
            "ts_us": [1_000_000],
            "event_id": [1],
            "value": [46_000.0],  # within the ~$46k exact domain
        }
    )
    out = list(sm._ewma_fn((1, "c"), iter([ok]), _State()))
    assert len(out) == 1 and np.isfinite(out[0]["ewma"]).all()

    too_big = ok.assign(value=[5_000_000.0])  # |cents|=5e8 > ~4.6e6 limit
    with pt.raises(ValueError, match="int64 fold domain"):
        list(sm._ewma_fn((1, "c"), iter([too_big]), _State()))


def test_stream_interarrival_equals_batch_running_form(spark):
    """Single-drain equivalence: the stateful gap monitor must reproduce
    the batch running-window form EXACTLY (device mean included)."""
    from pyspark.sql import Window

    from kdb_spark.analytics.exact import iround_col
    from kdb_spark.tables import events_us

    got = sm.stream_interarrival(spark, SF_DIR)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    d = (
        events_us(spark, SF_DIR)
        .select(
            "user_id", "event_type", "ts_us", "event_id",
            (F.col("ts_us") - F.lag("ts_us").over(w)).alias("g"),
        )
        .filter(F.col("g").isNotNull())
    )
    want = d.select(
        "user_id", "event_type", "ts_us", "event_id",
        (F.col("g").cast("double") / F.lit(1e6)).alias("gap_s"),
        (F.max("g").over(wr).cast("double") / F.lit(1e6)).alias("max_gap_s"),
        iround_col(
            "sum(g) OVER (PARTITION BY user_id, event_type"
            " ORDER BY ts_us, event_id"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
            "CAST(count(*) OVER (PARTITION BY user_id, event_type"
            " ORDER BY ts_us, event_id"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS DECIMAL(38,0)) * 1000000",
            6,
            signed=False,
        ).alias("mean_gap_s"),
    )
    cols = ["user_id", "event_type", "ts_us", "event_id", "gap_s", "max_gap_s", "mean_gap_s"]
    assert rows(got, *cols) == rows(want, *cols)


def test_stream_interarrival_carries_state_and_drops_late(spark, tmp_path):
    """Across micro-batches: batch-2 gaps chain off batch-1's stored tail,
    the running mean/max include batch-1 history, and a late row is
    dropped (not folded into a wrong gap)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.streaming.state import GroupStateTimeout

    watch = tmp_path / "src"
    watch.mkdir()
    S = 1_000_000
    schema = pa.schema(
        [
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("ts_us", pa.int64()),
            ("event_id", pa.int64()),
        ]
    )

    def write(name, rs, mtime):
        t = pa.table({c.name: [r[i] for r in rs] for i, c in enumerate(schema)}, schema=schema)
        p = watch / name
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    write("b1.parquet", [(1, "c", 10 * S, 0), (1, "c", 14 * S, 1)], 1_000)
    # batch 2: eid=2 is LATE (12s < stored tail 14s); eid=3 gaps off the tail
    write("b2.parquet", [(1, "c", 12 * S, 2), (1, "c", 20 * S, 3)], 2_000)

    sdf = (
        spark.readStream.schema(
            "user_id long, event_type string, ts_us long, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = sdf.groupBy("user_id", "event_type").applyInPandasWithState(
        sm._gap_fn,
        outputStructType=sm._GAP_OUT,
        stateStructType=sm._GAP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    table, state_ops = _drain_with_state(out, "append")
    got = {r.event_id: r for r in table.collect()}
    # batch 1: one gap (4s); batch 2: late eid=2 dropped, eid=3 gap = 6s
    assert set(got) == {1, 3}
    assert got[1].gap_s == 4.0 and got[1].max_gap_s == 4.0 and got[1].mean_gap_s == 4.0
    assert got[3].gap_s == 6.0 and got[3].max_gap_s == 6.0
    assert got[3].mean_gap_s == 5.0  # (4s + 6s) / 2 across the boundary
    # state shape pin: ONE state row for the single series, both batches
    assert state_ops and all(
        list(op.values())[0][0] == 1 for op in state_ops if op
    )


def test_stream_since_event_equals_batch_window(spark):
    """Single-drain equivalence: the stateful recency feature must
    reproduce win_since_event's batch rows EXACTLY (NULL heads, zero on
    purchase rows, running count)."""
    from kdb_spark.analytics import windows as wn
    from kdb_spark.tables import events_us

    got = sm.stream_since_event(spark, SF_DIR)
    want = wn.win_since_event(events_us(spark, SF_DIR))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.select(*got.columns).collect()}
    assert g == w and len(g) > 0


def test_stream_drawdown_equals_batch_window(spark):
    """Single-drain equivalence: the stateful drawdown must reproduce
    win_drawdown's running peak and device fraction row-for-row."""
    from kdb_spark.analytics import windows as wn
    from kdb_spark.tables import events_us

    got = sm.stream_drawdown(spark, SF_DIR)
    want = wn.win_drawdown(events_us(spark, SF_DIR)).select(
        "user_id", "event_type", "event_id",
        # peak is peak_c/100.0; a bare *100 cast truncates at ulp
        # boundaries (73.32*100 = 7331.999…) — round first
        F.round(F.col("peak") * 100).cast("long").alias("peak_c"),
        "dd_frac",
    )
    g = {(r.user_id, r.event_type, r.event_id, r.peak_c, r.dd_frac)
         for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_attrib_fn_carry_order_and_late_drop():
    """_attrib_fn semantics without a cluster: a same-µs click credits
    the purchase (side order), late rows behind the tail drop-and-count,
    and the carried click survives across micro-batches."""
    import pandas as pd

    class _State:
        exists = False

        def update(self, v):
            self.exists = True
            self.get = v

    st = _State()
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts_us": [100, 100, 200],
            "event_id": [3, 4, 5],
            "side": [0, 1, 1],  # click and purchase at the SAME µs + later buy
        }
    )
    out = list(sm._attrib_fn((1,), iter([b1]), st))
    rows = out[0]
    assert list(rows["event_id"]) == [4, 5]
    assert list(rows["attributed"]) == [1, 1]
    assert list(rows["last_click_us"]) == [100, 100]
    # batch 2: a LATE purchase (behind the tail) is dropped; an on-time
    # purchase beyond the 7-day window goes uncredited
    late_then_far = pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts_us": [150, 100 + 8 * 86_400_000_000],
            "event_id": [2, 9],
            "side": [1, 1],
        }
    )
    out2 = list(sm._attrib_fn((1,), iter([late_then_far]), st))
    rows2 = out2[0]
    assert list(rows2["event_id"]) == [9]
    assert list(rows2["attributed"]) == [0]
    assert st.get[4] == 1  # exactly one late row counted


def test_day_roll_fn_publishes_only_closed_days():
    """_day_roll_fn: a day publishes when the next day's first tick
    arrives — gap vs the previous traded day's close, series-open day
    withheld across batches."""
    import pandas as pd

    class _State:
        exists = False

        def update(self, v):
            self.exists = True
            self.get = v

    DAY = 86_400_000_000
    st = _State()
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts_us": [10, 20, DAY + 5],
            "event_id": [1, 2, 3],
            "c": [100, 120, 90],
            "day": [0, 0, 1],
        }
    )
    out = list(sm._day_roll_fn((1, "a"), iter([b1]), st))
    rows = out[0]
    assert list(rows["day"]) == [0]
    assert list(rows["open_c"]) == [100] and list(rows["close_c"]) == [120]
    assert rows["gap_c"][0] is None or pd.isna(rows["gap_c"][0])
    # day 1 still open; a day-3 tick closes it with the overnight gap
    b2 = pd.DataFrame(
        {
            "user_id": [1],
            "ts_us": [3 * DAY + 1],
            "event_id": [4],
            "c": [200],
            "day": [3],
        }
    )
    rows2 = list(sm._day_roll_fn((1, "a"), iter([b2]), st))[0]
    assert list(rows2["day"]) == [1]
    assert list(rows2["gap_c"]) == [90 - 120]


def test_stream_vwap_equals_batch_cumulative(spark):
    """Single-drain equivalence: the stateful cumulative VWAP must equal
    the batch cumulative-window form exactly (Python-int grid == HUGEINT
    grid), including the zero-volume prefix null."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kdb_spark.tables import cents, events_us, load

    got = sm.stream_vwap(spark, SF_DIR)
    ev = events_us(spark, SF_DIR)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vol = F.coalesce(
        F.get_json_object("props", "$.k").cast("long"), F.lit(0)
    )
    t = ev.select(
        "event_type", "ts_us", "event_id", cents("value").alias("c"),
        vol.alias("vol"),
    ).select(
        "event_type", "ts_us", "event_id",
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("vol")).over(w).alias("spv"),
        F.sum(F.col("vol").cast("decimal(38,0)")).over(w).alias("sv"),
    )
    from kdb_spark.analytics.exact import iround_col

    want = t.select(
        "event_type", "ts_us", "event_id",
        F.col("sv").cast("long").alias("cum_vol"),
        F.when(
            F.col("sv") > 0,
            iround_col("spv", "100 * sv", 6, signed=False),
        ).alias("vwap"),
    )
    g = {(r.event_type, r.event_id): (r.cum_vol, r.vwap) for r in got.collect()}
    x = {(r.event_type, r.event_id): (r.cum_vol, r.vwap) for r in want.collect()}
    assert g == x


class _FnState:
    """Bare GroupState stand-in for fn-level tests (no cluster)."""

    exists = False

    def update(self, v):
        self.exists = True
        self.get = v


def test_since_fn_carries_target_across_batches():
    """_since_fn: the carried last-purchase timestamp and running count
    chain across micro-batches; NULL head before the first target; a late
    row behind the tail drops-and-counts."""
    import pandas as pd

    st = _FnState()
    b1 = pd.DataFrame(
        {
            "event_id": [1, 2],
            "user_id": [7, 7],
            "event_type": ["view", "purchase"],
            "ts_us": [100, 200],
        }
    )
    r1 = list(sm._since_fn((7,), iter([b1]), st))[0]
    assert list(r1["since_us"]) == [None, 0]
    assert list(r1["n_target_so_far"]) == [0, 1]
    b2 = pd.DataFrame(
        {
            "event_id": [0, 3],
            "user_id": [7, 7],
            "event_type": ["view", "view"],
            "ts_us": [150, 500],  # 150 is late (tail 200)
        }
    )
    r2 = list(sm._since_fn((7,), iter([b2]), st))[0]
    assert list(r2["event_id"]) == [3]
    assert list(r2["since_us"]) == [300]  # gaps off batch-1's purchase
    assert list(r2["n_target_so_far"]) == [1]
    assert st.get[4] == 1  # one late row counted


def test_dd_fn_carries_peak_across_batches():
    """_dd_fn: batch-2 drawdowns measure against batch-1's peak; the
    device fraction matches the integer DIV grid exactly."""
    import pandas as pd

    st = _FnState()
    b1 = pd.DataFrame(
        {"ts_us": [10, 20], "event_id": [1, 2], "c": [1000, 800]}
    )
    r1 = list(sm._dd_fn((1, "a"), iter([b1]), st))[0]
    assert list(r1["peak_c"]) == [1000, 1000]
    assert r1["dd_frac"][0] == 0.0 and r1["dd_frac"][1] == 0.2
    b2 = pd.DataFrame({"ts_us": [30], "event_id": [3], "c": [900]})
    r2 = list(sm._dd_fn((1, "a"), iter([b2]), st))[0]
    assert list(r2["peak_c"]) == [1000]
    assert r2["dd_frac"][0] == 0.1


def test_peak_age_fn_retouch_and_carry():
    """_peak_age_fn: an equal-cents re-touch moves the clock (>= rule);
    the carried peak survives into the next batch."""
    import pandas as pd

    st = _FnState()
    b1 = pd.DataFrame(
        {"ts_us": [100, 200, 300], "event_id": [1, 2, 3], "c": [50, 40, 50]}
    )
    r1 = list(sm._peak_age_fn((1, "a"), iter([b1]), st))[0]
    assert list(r1["peak_ts_us"]) == [100, 100, 300]  # eid=3 re-touches
    assert list(r1["peak_age_us"]) == [0, 100, 0]
    b2 = pd.DataFrame({"ts_us": [450], "event_id": [4], "c": [10]})
    r2 = list(sm._peak_age_fn((1, "a"), iter([b2]), st))[0]
    assert list(r2["peak_c"]) == [50]
    assert list(r2["peak_ts_us"]) == [300]
    assert list(r2["peak_age_us"]) == [150]


def test_vwap_fn_vector_and_bigint_paths_agree():
    """_vwap_fn: the int64 vectorized grid and the arbitrary-precision
    fallback loop produce identical rows; a huge carried Σpv (the 1e9-row
    tape) routes to the fallback and stays exact."""
    import pandas as pd

    st = _FnState()
    b1 = pd.DataFrame(
        {
            "ts_us": [10, 20, 30],
            "event_id": [1, 2, 3],
            "c": [0, 12345, 99999],
            "vol": [0, 3, 7],
        }
    )
    r1 = list(sm._vwap_fn(("a",), iter([b1]), st))[0]
    assert list(r1["cum_vol"]) == [0, 3, 10]
    assert r1["vwap"][0] is None
    assert r1["vwap"][1] == round((12345 * 3) / (100 * 3), 6)
    # seed a Σpv far beyond int64: must take the fallback loop, still exact
    st2 = _FnState()
    st2.exists = True
    st2.get = (5, 0, str(10**25), 10**7, 0)
    b2 = pd.DataFrame(
        {"ts_us": [50], "event_id": [9], "c": [200], "vol": [5]}
    )
    r2 = list(sm._vwap_fn(("a",), iter([b2]), st2))[0]
    spv = 10**25 + 200 * 5
    sv = 10**7 + 5
    d = 100 * sv
    assert r2["vwap"][0] == float((2_000_000 * spv + d) // (2 * d)) / 1e6
    assert st2.get[2] == str(spv) and st2.get[3] == sv


@pytest.mark.parametrize(
    "fn, key, order",
    [
        (sm._delta_fn, (1, "a"), None),
        (sm._ewma_fn, (1, "a"), None),
        (sm._zscore_fn, (1, "a"), None),
        (sm._gap_fn, (1, "a"), None),
        (sm._since_fn, (1,), None),
        (sm._dd_fn, (1, "a"), None),
        (sm._day_roll_fn, (1, "a"), None),
        (sm._peak_age_fn, (1, "a"), None),
        (sm._attrib_fn, (1,), ("ts_us", "side", "event_id")),
        (sm._vwap_fn, ("a",), None),
    ],
    ids=lambda v: getattr(v, "__name__", None),
)
def test_late_rows_drop_and_count(fn, key, order):
    """Every Python-stateful series operator shares one late-row cut: rows
    at or behind the stored tail — including a same-µs re-delivery of the
    tail itself — are dropped and counted in `n_late`, the new tail is the
    last on-time row, and an all-late batch emits nothing and leaves the
    state untouched apart from `n_late`."""
    import pandas as pd

    order = order or ("ts_us", "event_id")

    def batch(*ts_eid):
        n = len(ts_eid)
        cents_ = [100 + 7 * i for i in range(n)]
        return pd.DataFrame(
            {
                "user_id": [1] * n,
                "event_type": ["a"] * n,
                "ts_us": [t for t, _ in ts_eid],
                "event_id": [e for _, e in ts_eid],
                "value": [c / 100 for c in cents_],
                "xc": cents_,
                "c": cents_,
                "day": [t // DAY_US for t, _ in ts_eid],
                "side": [1] * n,
                "vol": [1] * n,
            }
        )

    def tail(state):
        fields = state[: len(order)]
        return tuple(f[-1] if isinstance(f, list) else f for f in fields)

    def run(df):
        return list(fn(key, iter([df]), st))

    st = _FnState()
    run(batch((100, 5), (200, 10)))
    assert tail(st.get) == ((200, 1, 10) if len(order) == 3 else (200, 10))
    n0 = st.get[-1]

    # behind the tail, the tail re-delivered, a same-µs later id, a later row
    run(batch((150, 20), (200, 10), (200, 11), (300, 12)))
    assert st.get[-1] == n0 + 2
    assert tail(st.get) == ((300, 1, 12) if len(order) == 3 else (300, 12))

    before = st.get
    assert run(batch((100, 1), (300, 12))) == []
    assert st.get[:-1] == before[:-1]
    assert st.get[-1] == before[-1] + 2
