"""Source / sink adapters (SURVEY.md §2.B "Scans / sources / sinks").

The reference reads exactly one format — its own mmap'd segment files
(`dblock/dblock.go:343-382`, `rblock/rblock.go:138-157`). The engine's
native format is parquet (vectorized scan, predicate pushdown, row-group
stats); CSV and JSON-lines adapters exist for interchange. All readers take
an explicit schema when given (never sample-infer in production paths —
inference is a full extra pass at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kdb_spark.analytics.exact import floor_div_sql
from kdb_spark.errors import ConcurrentWriteError, CorruptManifestError
from kdb_spark.tables import ts_us_expr


def _load_manifest(path: str, version: int) -> dict:
    """Read + integrity-check one manifest of a versioned table.

    Loud-failure contract (reference parity: `mindex/mindex.go:198-210`
    errors a load on a truncated/overrun index element rather than
    serving partial state): truncated or garbled JSON, a non-dict, a
    missing/empty ``dirs`` list, or a ``version`` field disagreeing with
    the file name all raise :class:`CorruptManifestError` naming the
    file — never a silent partial read, never a fall-back to a different
    snapshot than the one requested. Corruption is per-manifest: intact
    versions of the same table stay readable by explicit pin.
    """
    import json
    import os

    f = os.path.join(path, "_log", f"{version}.json")
    try:
        with open(f) as fh:
            m = json.load(fh)
    except json.JSONDecodeError as e:
        raise CorruptManifestError(
            f"torn manifest {f}: invalid JSON ({e.msg} at pos {e.pos}) — "
            f"refusing a partial read; other committed versions remain "
            f"readable by explicit version pin"
        ) from e
    if (
        not isinstance(m, dict)
        or not isinstance(m.get("dirs"), list)
        or not m["dirs"]
        or not all(isinstance(d, str) for d in m["dirs"])
        or m.get("version") != version
    ):
        raise CorruptManifestError(
            f"garbled manifest {f}: expected {{version: {version}, dirs: "
            f"[...]}}, got {str(m)[:200]!r}"
        )
    return m


def scan_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    r = spark.read.option("header", header)
    r = r.schema(schema) if schema is not None else r.option("inferSchema", True)
    return r.csv(path)


def scan_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines scan. With an explicit schema this is one pass; without,
    Spark samples to infer (fine for exploration, not for the 100 TB path)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def sink_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def sink_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", header).csv(path)


def sink_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def scan_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — vectorized + predicate pushdown, same contract as parquet."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def sink_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def scan_binary(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raw-asset scan via the `binaryFile` source — the ingest edge of the
    multimodal pipeline (images/audio/video land as files; this yields
    (path, modificationTime, length, content BINARY) rows that
    `multimodal_table` / `mm_features` consume as opaque payloads).

    Spark parallelizes the listing and reads each file as one row — fine
    for the typical many-small-assets layout; giant single files should be
    chunked upstream. `pathGlobFilter` prunes by extension at listing time
    (no data read for skipped files).
    """
    r = spark.read.format("binaryFile")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def sink_delta_like(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Partition-overwrite sink (`replaceWhere`-style semantics via dynamic
    partition overwrite) — the idempotent-reingest half of the retention
    story: re-writing one bucket replaces only that bucket's files."""
    w = df.sparkSession.conf
    old = w.get("spark.sql.sources.partitionOverwriteMode", "static")
    w.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    finally:
        w.set("spark.sql.sources.partitionOverwriteMode", old)


def zorder_key(a: "F.Column | str", b: "F.Column | str", bits: int = 16) -> F.Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative integer columns — pure JVM bit expressions, whole-stage
    codegen, no UDF. Rows close in BOTH dimensions get close z-values, so a
    sort by z clusters them into the same parquet row groups and min/max
    stats prune on EITHER predicate column (the multi-dimensional data
    skipping a single-column sort can't give; same idea as Delta's
    OPTIMIZE ZORDER)."""
    ca = (F.col(a) if isinstance(a, str) else a).cast("long")
    cb = (F.col(b) if isinstance(b, str) else b).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(ca, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(cb, i).bitwiseAND(F.lit(1))
        z = (
            z.bitwiseOR(F.shiftleft(bit_a, 2 * i))
            .bitwiseOR(F.shiftleft(bit_b, 2 * i + 1))
        )
    return z


def sink_zorder(
    df: DataFrame, path: str, a: str, b: str, bits: int = 16, files: int = 16
) -> None:
    """Z-order-clustered parquet sink: range-partition + sort by the Morton
    key of (a, b), so each output file covers a compact rectangle of the
    (a, b) plane and its min/max footer stats are selective for predicates
    on either column — one clustering write serves BOTH access paths, where
    partitionBy(a) would leave b-predicates scanning everything. The write
    costs one range shuffle; reads pay nothing."""
    z = zorder_key(a, b, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def q_scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → z-order-clustered by (user_id, day) → two-dimensional
    filtered read-back. The oracle is the plain filter over the original
    table: clustering must change THE LAYOUT ONLY, never the answer — while
    the footer stats of the clustered files let either predicate skip row
    groups (`test_zorder_clusters_both_dims` measures the selectivity)."""
    from kdb_spark.tables import DAY_US, events_us

    ev = events_us(spark, sf_dir).withColumn(
        "day_idx", (F.col("ts_us") / F.lit(DAY_US)).cast("long")
    )
    path = _tmp("zorder")
    sink_zorder(
        ev.select("event_id", "user_id", "day_idx", "value"), path, "user_id", "day_idx"
    )
    back = spark.read.parquet(path)
    return (
        back.filter(
            F.col("user_id").between(10, 40)
            & F.col("day_idx").between(19730, 19736)
        )
        .groupBy("user_id", "day_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_c"),
        )
    )


def sink_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 32
) -> None:
    """Persist as a bucketed+sorted managed table — the storage-layout half
    of a shuffle-free equi join. Two fact tables bucketed on the same key
    with the same bucket count co-locate matching keys in matching files,
    so a later join needs NO Exchange on either side (plan-asserted in
    tests): at 100 TB that converts every recurring fact-fact join from a
    full-corpus shuffle into a per-bucket merge. The write itself shuffles
    once (hash into buckets) — you pay it one time, not per query.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


# ---------------------------------------------------------------------------
# Driver-registrable source/sink demos ((spark, sf_dir) -> DataFrame).
#
# Each exercises one adapter end-to-end with deterministic output so the
# DuckDB oracle can hash-compare it. Round-trips go through a temp dir; the
# values returned are normalized to exact types (epoch-µs longs, bigint
# cents) BEFORE the write so the round-trip itself is bit-exact in any
# format. At scale the same adapters run against object-store paths; the
# temp dir stands in for that.


# Ephemeral sink scratch: every q_* round-trip key (sink_* writers,
# scan_csv/orc/binary interchange, versioned-table commits) writes a
# per-invocation table here and re-reads it inside the same query — the
# dirs carry no state across invocations, so their fsyncs buy no
# durability, only latency (the same argument as the streaming drain
# scratch in kdb_spark/streaming.py). Default to memory-backed storage
# when the host has it; point SPARK_GRAFT_SINK_SCRATCH at a disk path to
# measure the durable-write cost instead. A production sink writes to
# real shared storage — nothing that outlives one query lands here.
def _tmp(prefix: str) -> str:
    import os
    import tempfile

    base = os.environ.get("SPARK_GRAFT_SINK_SCRATCH") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    return tempfile.mkdtemp(prefix=f"kdbs_{prefix}_", dir=base)


def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushdown-verified parquet scan: the p_size filter and 3-column
    projection both reach the scan node (PushedFilters/ReadSchema —
    asserted in tests/test_sources.py)."""
    from pyspark.sql import functions as F

    df = scan_parquet(spark, f"{sf_dir.rstrip('/')}/part.parquet")
    return df.filter(F.col("p_size") == 15).select(
        "p_partkey", "p_brand", F.round(F.col("p_retailprice") * 100).cast("long").alias("price_c")
    )


def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV → scan_csv with explicit schema (no inference pass)."""
    df = scan_parquet(spark, f"{sf_dir.rstrip('/')}/nation.parquet")
    path = _tmp("csv")
    sink_csv(df, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return scan_csv(spark, path, schema=schema)


def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines → scan_json with explicit schema. Timestamps and
    money normalized to (µs long, bigint cents) pre-write: JSON carries them
    losslessly and the oracle compares exact integers."""
    orders = scan_parquet(spark, f"{sf_dir.rstrip('/')}/orders.parquet")
    df = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        "o_custkey",
        ts_us_expr(orders, "o_orderdate").alias("date_us"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_c"),
    )
    path = _tmp("json")
    sink_json(df, path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("date_us", T.LongType()),
            T.StructField("total_c", T.LongType()),
        ]
    )
    return scan_json(spark, path, schema=schema)


def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem subset → ORC → scan_orc; ORC is the second columnar format
    (same vectorized-scan + pushdown contract as parquet)."""
    from pyspark.sql import functions as F

    df = (
        scan_parquet(spark, f"{sf_dir.rstrip('/')}/lineitem.parquet")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
            F.round(F.col("l_quantity") * 100).cast("long").alias("qty_c"),
        )
    )
    path = _tmp("orc")
    sink_orc(df, path)
    return scan_orc(spark, path)


def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-asset ingest edge: 50 documents written as standalone UTF-8 files,
    re-read via the binaryFile source, identity-checked by md5 over the raw
    bytes. The local file fan-out is the test fixture (assets originate
    outside any engine); scan_binary is the engine path — at scale the same
    call lists an object-store prefix with pathGlobFilter pruning."""
    import os

    from pyspark.sql import functions as F

    docs = (
        scan_parquet(spark, f"{sf_dir.rstrip('/')}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(50)
        .collect()
    )
    path = _tmp("bin")
    for r in docs:
        with open(os.path.join(path, f"{r['doc_id']}.txt"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    raw = scan_binary(spark, path, glob="*.txt")
    return raw.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.txt$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


def q_sink_delta_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition-overwrite round-trip: write orders partitioned by
    priority, then re-ingest ONE partition (only even order keys survive in
    '1-URGENT') — the overwrite must replace that partition's files and leave
    every other partition untouched. This is the idempotent-reingest /
    partition-replacement half of the reference's RemoveBefore
    (/root/reference/dbase/dbase.go:323-364) expressed as a table sink.

    Prices are normalized to bigint cents BEFORE the write so the round-trip
    is bit-exact; the read-back aggregates per partition so a stale or
    double-written partition shows up as a wrong count/sum, not just a
    wrong file listing.
    """
    from pyspark.sql import functions as F

    d = sf_dir.rstrip("/")
    path = _tmp("delta_like")
    base = scan_parquet(spark, f"{d}/orders.parquet").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    sink_delta_like(base, path, partition_by=["o_orderpriority"])
    fixed = base.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderkey") % 2 == 0)
    )
    sink_delta_like(fixed, path, partition_by=["o_orderpriority"])
    return (
        scan_parquet(spark, path)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("price_c").alias("total_c"))
    )


def q_sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout co-located join: orders and customer both bucketed on
    the customer key (same bucket count) → the join plan has NO Exchange on
    either side (asserted in tests/test_sources.py). At 100 TB this converts
    every recurring fact-fact join into a per-bucket merge; the one-time
    bucketing write is the only shuffle paid."""
    import shutil

    from pyspark.sql import functions as F

    # A fresh session's in-memory catalog doesn't know tables a previous
    # process left in the warehouse dir, and saveAsTable refuses to claim an
    # existing location it has no catalog entry for — drop both first.
    for t in ("kdbs_orders_b", "kdbs_customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{loc}/{t}", ignore_errors=True)

    d = sf_dir.rstrip("/")
    sink_bucketed(
        scan_parquet(spark, f"{d}/orders.parquet"), "kdbs_orders_b", "o_custkey", 8
    )
    sink_bucketed(
        scan_parquet(spark, f"{d}/customer.parquet"), "kdbs_customer_b", "c_custkey", 8
    )
    o = spark.table("kdbs_orders_b")
    c = spark.table("kdbs_customer_b")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_c"),
        )
    )


def scan_text(spark: SparkSession, path: str, whole: bool = False) -> DataFrame:
    """Line-oriented text scan — the raw edge of an LLM corpus pipeline
    (one row per line; ``wholetext`` for one row per file). No schema to
    push, but partition-parallel splitting on line boundaries is free."""
    return spark.read.option("wholetext", whole).text(path)


def sink_text(df: DataFrame, path: str) -> None:
    """Single-string-column sink (one line per row) — the inverse edge."""
    df.write.mode("overwrite").text(path)


def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → text lines → scan_text → per-line token stats.

    Round-trip constraints (the price of a line-oriented sink): a NULL text
    would make concat_ws skip the field (no tab → doc_id mis-parses), and an
    embedded newline would split one row into two — so NULL is coalesced to
    '' before the sink and any CR/LF becomes a SPACE (not empty: 'foo\\nbar'
    must stay two tokens, as the oracle reading the original text sees it),
    making both cases explicit instead of silent corruption. The synthetic
    corpus is single-line non-null, so at sf* these guards are no-ops.
    """
    from pyspark.sql import functions as F

    docs = scan_parquet(spark, f"{sf_dir.rstrip('/')}/documents.parquet")
    path = _tmp("text")
    sink_text(
        docs.select(
            F.concat_ws(
                "\t",
                F.col("doc_id").cast("string"),
                F.regexp_replace(F.coalesce("text", F.lit("")), "[\\r\\n]", " "),
            ).alias("value")
        ),
        path,
    )
    lines = scan_text(spark, path)
    tab = F.instr("value", "\t")
    return lines.select(
        F.substring("value", F.lit(1), tab - 1).cast("long").alias("doc_id"),
        # everything after the FIRST tab is the text — substring_index(-1)
        # would split at the LAST tab and truncate tab-bearing documents
        (F.length("value") - tab).cast("long").alias("n_chars_line"),
    )


def q_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate serve path over the reference's hot/cold split
    (`dbase/dbase.go:17-20,403-424`: recent buckets hot+writable, older
    buckets sealed): the COLD tier is a materialized hourly rollup written
    once per sealed bucket (partitioned by day — re-rolling a late bucket
    replaces one partition, same idempotent-overwrite contract as
    q_sink_delta_like); the HOT tail aggregates on the fly; the serve
    query unions the two and MERGES partials (counts add, cents sums add,
    min/min max/max — avg re-derives from merged sums, which is why the
    rollup stores sums, never averages).

    Exactness: the merge is over bigint counts/cents, so serve output is
    bit-identical to a full rescan (the oracle IS the full-table rollup) —
    the lambda-architecture read path without the usual approximation
    caveat. At 100 TB the cold scan reads a few rollup rows per series per
    hour instead of raw events, and day-partition pruning skips everything
    outside the queried range.
    """
    from kdb_spark.tables import DAY_US, HOUR_US, cents, events_us

    cut_us = 1_705_276_800_000_000  # 2024-01-15T00:00Z: seal buckets before
    ev = events_us(spark, sf_dir)
    hour = (F.col("ts_us") - F.col("ts_us") % F.lit(HOUR_US)).alias("hour_us")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", hour).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents("value")).alias("sum_c"),
            F.min(cents("value")).alias("min_c"),
            F.max(cents("value")).alias("max_c"),
        )

    cold_path = _tmp("rollup_cold")
    cold = rollup(ev.filter(F.col("ts_us") < cut_us)).withColumn(
        "day_us", F.col("hour_us") - F.col("hour_us") % F.lit(DAY_US)
    )
    sink_delta_like(cold, cold_path, partition_by=["day_us"])
    hot = rollup(ev.filter(F.col("ts_us") >= cut_us))
    served = (
        scan_parquet(spark, cold_path)
        .select("event_type", "hour_us", "n", "sum_c", "min_c", "max_c")
        .unionByName(hot)
        .groupBy("event_type", "hour_us")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_c").cast("long").alias("sum_c"),
            F.min("min_c").cast("long").alias("min_c"),
            F.max("max_c").cast("long").alias("max_c"),
        )
    )
    # avg = Σc/(100n): exact integer ratio, rounded half-away-from-zero
    # to 6 dp in integer space (r11 hardening — never round(double, 6))
    avg6 = F.expr(
        "(CASE WHEN sum_c < 0 THEN -1 ELSE 1 END) * "
        + floor_div_sql(
            "2000000 * CAST(abs(sum_c) AS DECIMAL(38,0))"
            " + 100 * CAST(n AS DECIMAL(38,0))",
            "200 * CAST(n AS DECIMAL(38,0))",
        )
    )
    return served.select(
        "event_type", "hour_us", "n", "sum_c", "min_c", "max_c",
        (avg6.cast("double") / F.lit(1e6)).alias("avg_value"),
    )


def q_scan_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two generations of the same table — an early
    write WITHOUT the ``lang`` column and a later write WITH it — unify
    under ``mergeSchema`` (older files surface NULL for the new column).
    This is the drift every long-lived 100 TB lake accumulates; the
    gotcha the op pins down is that merge-on-read costs a footer fetch
    per file, so production tables declare the superset schema explicitly
    (the read below does both: mergeSchema to DISCOVER, then the explicit
    unified schema is what a recurring job would hardcode).

    Split is by doc parity, so the oracle reproduces generations exactly:
    even docs predate the lang column (NULL), odd docs carry it.
    """
    d = sf_dir.rstrip("/")
    path = _tmp("evolved")
    docs = scan_parquet(spark, f"{d}/documents.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text").write.mode(
        "overwrite"
    ).parquet(f"{path}/gen=1")
    docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text", "lang").write.mode(
        "overwrite"
    ).parquet(f"{path}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    return merged.groupBy(F.coalesce("lang", F.lit("<pre-schema>")).alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )


def q_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every streaming
    ingest needs (micro-batches leave a file per trigger per partition;
    thousands of small files turn listing + footer reads into the scan
    bottleneck long before data volume does).

    Shape: a deliberately over-fragmented write (one file per shuffle
    partition), then compaction = read → repartition to the target file
    count (size-based at scale: bytes / target_file_size) → rewrite.
    The read-back aggregate proves compaction is layout-only; the test
    asserts the file-count collapse. At 100 TB this runs per-partition
    (compact yesterday's partitions, never the whole table — the same
    partition-scoped overwrite as sink_delta_like).
    """
    from kdb_spark.tables import events_us, cents

    frag, tight = _tmp("frag"), _tmp("compact")
    ev = events_us(spark, sf_dir).select("event_id", "event_type", cents("value").alias("c"))
    ev.repartition(64).write.mode("overwrite").parquet(frag)  # the problem
    back = spark.read.parquet(frag)
    back.repartition(4).write.mode("overwrite").parquet(tight)  # the fix
    return (
        spark.read.parquet(tight)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sum_c"),
        )
    )


def sink_versioned(df: DataFrame, path: str, mode: str = "append") -> int:
    """Commit ``df`` as a new VERSION of a manifest-logged table — the
    transaction-log core of Delta/Iceberg, minimally: readers list files
    from a manifest, never from the directory, so a snapshot is immutable,
    commits are atomic (data lands fully before the one-file manifest
    rename-equivalent write), and every historical version stays
    readable. `sink_delta_like` gives partition-replacement semantics;
    this gives the OTHER half of a table format — snapshots + time
    travel.

    Commit N writes data under ``data/v{N}/`` and then manifest
    ``_log/{N}.json`` holding the full list of data dirs visible at N
    (append: parent's list + the new dir; overwrite: just the new dir).
    At 100 TB the manifest read replaces the object-store LIST that
    dominates wide-table query planning; manifests grow by one entry per
    commit and compact the same way Delta checkpoints do.

    Concurrency (the Delta protocol's shape, ADVICE r9): data lands under
    a UNIQUE dir name first — two in-flight committers can never clobber
    each other's files — then the version number is claimed by hard-
    LINKING a fully-written private file to ``{n}.json`` (os.link raises
    FileExistsError to every committer but one). Linking an already-
    complete file is what makes the commit atomic: the manifest is whole
    the instant it becomes visible, so a concurrent reader can never
    observe a partial {n}.json and a crash mid-commit leaves only an
    unclaimed tmp file, never a poisoned version (a bare
    O_CREAT|O_EXCL + write would expose an empty manifest between the
    two steps — r10 review finding). A loser re-reads the log and
    retries at N+1; its data dir needs no move. Cross-process mutual
    exclusion needs the filesystem's link/O_EXCL to be honest (true
    locally and on NFSv3+; object stores need a put-if-absent, which
    this local sink stands in for).
    """
    import json
    import os
    import uuid

    rel = os.path.join("data", uuid.uuid4().hex[:12])
    df.write.mode("overwrite").parquet(os.path.join(path, rel))

    def make_manifest(n: int, versions: list[int]) -> dict:
        manifest = {"version": n, "mode": mode, "dirs": [rel]}
        if mode == "append" and versions:
            # integrity-checked parent read: appending on top of a torn
            # manifest would bake the corruption into every descendant
            parent = _load_manifest(path, versions[-1])
            manifest["dirs"] = parent["dirs"] + [rel]
            # inherit the parent's partition map (established by a prior
            # partition-scoped sink_upsert) so a plain append doesn't
            # silently demote the table back to legacy full-scan merges;
            # the appended dir itself is unmapped (mixed partitions) and
            # will be split by the next scoped merge that touches it
            if parent.get("parts"):
                manifest["parts"] = parent["parts"]
        return manifest

    return _claim_version(path, make_manifest)


def _claim_version(path: str, make_manifest) -> int:
    """Atomically claim the next version of a manifest-logged table.

    ``make_manifest(n, versions)`` builds the manifest dict for candidate
    version ``n`` given the currently-committed version list; it is
    re-invoked on every retry so append-style commits can re-read the new
    parent. The hardlink claim protocol (fully-written private file →
    os.link to ``{n}.json``) is what makes the commit atomic — see
    sink_versioned's docstring for the full rationale.
    """
    import json
    import os
    import uuid

    log_dir = os.path.join(path, "_log")
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".commit-{uuid.uuid4().hex[:12]}.tmp")
    try:
        while True:
            versions = sorted(
                int(f.split(".")[0])
                for f in os.listdir(log_dir)
                if f.endswith(".json") and not f.startswith(".")
            )
            n = (versions[-1] + 1) if versions else 0
            manifest = make_manifest(n, versions)
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, os.path.join(log_dir, f"{n}.json"))
            except FileExistsError:
                # lost the race for n — re-list the log, rebuild, try n+1
                os.unlink(tmp)
                continue
            return n
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def scan_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read of a `sink_versioned` table: load the file set the
    requested manifest pins (latest when ``version`` is None). A version
    that was never committed raises rather than silently reading latest.
    """
    import json
    import os

    log_dir = os.path.join(path, "_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"no versioned table at {path} (missing _log)")
    versions = sorted(
        int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    if not versions:
        # e.g. a sink_versioned call that died after the data write but
        # before its manifest commit — the table has no readable version
        raise ValueError(f"versioned table at {path} has no committed version")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in table log {versions}")
    dirs = _load_manifest(path, version)["dirs"]
    return spark.read.parquet(*[os.path.join(path, d) for d in dirs])


def scan_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Change-data-feed read over a `sink_versioned` table: the rows ADDED
    after ``from_version`` up to ``to_version`` (latest when None) — the
    incremental-consumer primitive (Delta CDF / Iceberg incremental scan)
    that lets a downstream pipeline process only the increment instead of
    re-reading the snapshot.

    Implementation is pure manifest arithmetic: the diff is the data dirs
    in ``to``'s manifest that are absent from ``from``'s — zero data IO to
    plan, and the read scans ONLY the new files (at 100 TB this is the
    difference between an incremental consumer and a full-table rescan).
    Append-lineage semantics: an overwrite commit between the two versions
    starts a fresh lineage, so dirs removed by it simply don't appear —
    the diff is "what v_to can see that v_from couldn't", which for
    overwrites means the replacement dirs. Both versions must exist
    (same contract as scan_version).

    Reference tie: the reference's consumers poll hot buckets for newly
    sealed data (/root/reference/dbase/dbase.go:365-397); the manifest
    diff is that poll, restated for an object-store table.
    """
    import json
    import os

    log_dir = os.path.join(path, "_log")

    def _dirs(v: int) -> list[str]:
        f = os.path.join(log_dir, f"{v}.json")
        if not os.path.isfile(f):
            raise ValueError(f"version {v} not committed at {path}")
        return _load_manifest(path, v)["dirs"]

    if to_version is None:
        versions = sorted(
            int(f.split(".")[0])
            for f in os.listdir(log_dir)
            if f.endswith(".json")
        )
        if not versions:
            raise ValueError(f"versioned table at {path} has no committed version")
        to_version = versions[-1]
    if to_version < from_version:
        raise ValueError(
            f"to_version {to_version} precedes from_version {from_version}"
        )
    old = set(_dirs(from_version))
    new = [d for d in _dirs(to_version) if d not in old]
    if not new:
        # schema-stable empty diff (e.g. from == to): zero-row read of the
        # to-snapshot rather than an un-inferable empty frame
        return scan_version(spark, path, to_version).limit(0)
    return spark.read.parquet(*[os.path.join(path, d) for d in new])


def q_scan_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the same three-commit versioned table as q_scan_time_travel,
    then read the CHANGES v0→v1 — the result must equal exactly days
    10..19 (the v1 append increment): the v0 base must NOT reappear and
    the v2 append must stay invisible. Aggregated per type so a leaked or
    dropped file surfaces as a wrong count/sum."""
    from kdb_spark.tables import DAY_US, cents, events_us

    path = _tmp("changes")
    ev = events_us(spark, sf_dir).select(
        "event_id", "event_type", cents("value").alias("c"), "ts_us"
    )
    day0 = 19723  # 2024-01-01 in epoch days
    # integer `div`, never double `/` (r11 ADVICE): the oracle buckets
    # with integer // and a double quotient mis-buckets once ts_us
    # outgrows the 53-bit mantissa — same discipline as agg_dau_mau
    day = F.expr(f"ts_us div {DAY_US}") - F.lit(day0)
    v0 = sink_versioned(ev.filter(day < 10), path, mode="overwrite")
    v1 = sink_versioned(ev.filter((day >= 10) & (day < 20)), path, mode="append")
    sink_versioned(ev.filter(day >= 20), path, mode="append")
    return (
        scan_changes(spark, path, v0, v1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sum_c"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
    )


def q_scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three commits (overwrite days<10, append days 10-19, append rest),
    then a TIME-TRAVEL read of version 1 — the result must equal the
    first twenty days and prove the v2 append is invisible to the v1
    snapshot. The read-back aggregates per type so a leaked or dropped
    file surfaces as a wrong count/sum.

    Reference tie: versioned snapshots are the table-format expression of
    the reference's immutable sealed buckets
    (/root/reference/dbase/dbase.go:365-397 — cold buckets never mutate;
    only the manifest of what is visible advances).
    """
    from kdb_spark.tables import DAY_US, cents, events_us

    path = _tmp("versioned")
    ev = events_us(spark, sf_dir).select(
        "event_id", "event_type", cents("value").alias("c"), "ts_us"
    )
    day0 = 19723  # 2024-01-01 in epoch days
    # integer `div`, never double `/` (r11 ADVICE): the oracle buckets
    # with integer // and a double quotient mis-buckets once ts_us
    # outgrows the 53-bit mantissa — same discipline as agg_dau_mau
    day = F.expr(f"ts_us div {DAY_US}") - F.lit(day0)
    sink_versioned(ev.filter(day < 10), path, mode="overwrite")
    v1 = sink_versioned(ev.filter((day >= 10) & (day < 20)), path, mode="append")
    sink_versioned(ev.filter(day >= 20), path, mode="append")
    return (
        scan_version(spark, path, version=v1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sum_c"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
    )


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _split_dirs(
    dirs: list[str], parts: dict[str, str], touched: set[str]
) -> tuple[list[str], list[str]]:
    """Partition-prune a manifest's dir list for a scoped MERGE: a dir
    whose mapped partition value is NOT in ``touched`` carries into the
    new version verbatim (no read, no rewrite); a dir whose partition is
    touched — or that has no mapping (legacy commit, mixed partitions) —
    must be scanned. Pure function so the pruning decision is unit-
    testable without a Spark job."""
    affected = [d for d in dirs if d not in parts or parts[d] in touched]
    untouched = [d for d in dirs if d in parts and parts[d] not in touched]
    return affected, untouched


def sink_upsert(
    df: DataFrame, path: str, key: str, part_col: str | None = None
) -> int:
    """MERGE INTO over the manifest-versioned table: rows whose ``key``
    matches an existing row REPLACE it, the rest append — the CDC /
    last-write-wins primitive every lakehouse ships, and the table-format
    expression of the reference's in-bucket overwrite-on-put
    (/root/reference/dblock/dblock.go:198-205 — same slot, new payload
    wins).

    With ``part_col`` the merge is PARTITION-SCOPED (the 100 TB path):
    the increment's distinct partition values are collected (CDC-sized —
    a merge touches few partitions), the survivors anti-join scans ONLY
    the data dirs whose manifest-mapped partition is touched, untouched
    partitions' dirs carry into the new manifest verbatim (zero read,
    zero rewrite — manifest-level pruning, stronger than a pushed
    filter: the files are never even listed), and the rewrite lands one
    dir per touched partition so every later merge stays scoped. Legacy
    dirs committed without a partition map (a plain sink_versioned seed)
    are split into per-partition dirs on their first scoped merge — the
    table converges, exactly like Delta clustering. The match condition
    is ``(part_col, key)``, the standard contract that makes pruning
    sound: a matched row is replaced in place, so an update may not move
    a key across partitions (Delta's partition-pruned MERGE has the same
    constraint).

    Without ``part_col`` the merge is the naive full-table rewrite:
    survivors = snapshot LEFT ANTI JOIN incoming keys (broadcast — the
    increment is small in the CDC case), union the increment, commit as
    a new overwrite version. Either way the old snapshot stays readable
    (time travel), so a bad merge is a one-manifest rollback.
    """
    import json
    import os
    import uuid
    from urllib.parse import unquote

    from pyspark.sql.functions import broadcast

    spark = df.sparkSession

    if part_col is None:
        # real MERGE INTO errors when the source matches a target row
        # more than once; silently unioning a duplicate-keyed increment
        # would commit BOTH rows and every later scan double-counts the
        # key. One bounded agg over the (small, CDC-sized) increment
        # enforces it.
        dup = (
            df.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"sink_upsert: increment has multiple rows for {key}="
                f"{dup[0][0]!r}; MERGE requires unique source keys"
            )
        current = scan_version(spark, path)
        survivors = current.join(
            broadcast(df.select(key).distinct()), on=key, how="left_anti"
        )
        merged = survivors.unionByName(df)
        # materialize BEFORE the overwrite commit: merged reads the
        # current snapshot's files, and writing a new version while its
        # input plan is still lazily reading old files is the classic
        # self-overwrite trap — localCheckpoint cuts the lineage (same
        # device as stream_rollup_maintain)
        merged = merged.localCheckpoint(eager=True)
        return sink_versioned(merged, path, mode="overwrite")

    # ---- partition-scoped path ----
    # ONE per-partition agg serves both pre-flight reads: the touched
    # partition set (drives the manifest pruning) and the source-
    # uniqueness guard — under the scoped match condition the MERGE
    # error is a duplicate (part_col, key) pair, which shows up as
    # count != count_distinct(key) within a partition. The collect is
    # partition-count-sized (CDC merges touch few partitions), never
    # key-count-sized.
    pstr = F.coalesce(F.col(part_col).cast("string"), F.lit(_HIVE_NULL))
    pre = (
        df.groupBy(pstr.alias("p"), F.col(key).alias("k"))
        .count()  # map-side partial agg; NULL keys form their own group
        .groupBy("p")
        .agg(F.max("count").alias("mx"))
        .collect()
    )
    dup_parts = [r["p"] for r in pre if r["mx"] > 1]
    if dup_parts:
        raise ValueError(
            f"sink_upsert: increment has multiple rows for some {key} in "
            f"partition(s) {dup_parts[:3]!r}; MERGE requires unique "
            f"({part_col}, {key}) source pairs"
        )
    touched = {r["p"] for r in pre}

    log_dir = os.path.join(path, "_log")
    versions = (
        sorted(
            int(f.split(".")[0])
            for f in os.listdir(log_dir)
            if f.endswith(".json") and not f.startswith(".")
        )
        if os.path.isdir(log_dir)
        else []
    )
    if versions:
        parent = _load_manifest(path, versions[-1])
        dirs, parts = parent["dirs"], parent.get("parts", {})
    else:
        dirs, parts = [], {}  # bootstrap: first upsert creates the table
    affected, untouched = _split_dirs(dirs, parts, touched)

    inc = df.withColumn("__pc", pstr)
    if affected:
        cur = spark.read.parquet(
            *[os.path.join(path, d) for d in affected]
        ).withColumn("__pc", pstr)
        # scoped match condition (part_col, key): only rows IN a touched
        # partition are merge candidates; rows of untouched partitions
        # inside a legacy mixed dir carry forward as-is (they are being
        # rewritten only to give them their own per-partition dir)
        in_touched = F.col("__pc").isin(*touched) if touched else F.lit(False)
        candidates = cur.filter(in_touched)
        carry = cur.filter(~in_touched)
        survivors = candidates.join(
            broadcast(inc.select("__pc", key).distinct()),
            on=["__pc", key],
            how="left_anti",
        )
        merged = carry.unionByName(survivors).unionByName(inc)
    else:
        merged = inc
    # one shuffle keyed on the partition value → one task (→ one file set)
    # per partition dir; at real scale repartition(n, "__pc", salt) spreads
    # a hot partition across writers without changing the layout contract
    rel = os.path.join("data", uuid.uuid4().hex[:12])
    (
        merged.repartition(F.col("__pc"))
        .write.partitionBy("__pc")
        .mode("overwrite")
        .parquet(os.path.join(path, rel))
    )
    # partitionBy strips __pc from the files but part_col itself stays a
    # data column, so each per-partition dir is self-contained for
    # scan_version's plain multi-dir parquet read
    new_dirs, new_parts = list(untouched), {d: parts[d] for d in untouched}
    for sub in sorted(os.listdir(os.path.join(path, rel))):
        if not sub.startswith("__pc="):
            continue
        d = os.path.join(rel, sub)
        new_dirs.append(d)
        new_parts[d] = unquote(sub.split("=", 1)[1])

    snapshot_version = versions[-1] if versions else None

    def make_manifest(n: int, _versions: list[int]) -> dict:
        # the dir list was planned against the snapshot read above; a
        # concurrent commit landing in between would otherwise be
        # silently merged over (lost update) — same optimistic window
        # Delta closes with conflict detection. The claim loop re-invokes
        # us with the CURRENT committed version list, so detect the stale
        # plan and refuse to commit it rather than pretend the retry
        # resolved the conflict.
        latest = _versions[-1] if _versions else None
        if latest != snapshot_version:
            raise ConcurrentWriteError(
                f"sink_upsert at {path}: planned against version "
                f"{snapshot_version}, but version {latest} committed "
                "concurrently; re-run the merge against the new snapshot"
            )
        return {"version": n, "mode": "merge", "dirs": new_dirs, "parts": new_parts}

    return _claim_version(path, make_manifest)


def q_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the versioned table with pre-Jan-15 events via a bootstrap
    PARTITION-SCOPED upsert (one per-day dir each), then MERGE an
    increment that (a) rewrites every day-10..14 row with value+1.00 and
    (b) appends days 15..19 — the merge's survivors scan touches ONLY the
    5 affected day dirs (days 0..9 carry into the new manifest verbatim,
    manifest-level pruning), and the read-back per-type aggregate proves
    matched keys were replaced exactly once and unmatched rows survived.
    """
    from kdb_spark.tables import DAY_US, cents, events_us

    path = _tmp("upsert")
    day0 = 19723
    ev = events_us(spark, sf_dir).select(
        "event_id",
        "event_type",
        cents("value").alias("c"),
        "ts_us",
        (F.expr(f"ts_us div {DAY_US}") - F.lit(day0)).alias("day"),
    )
    sink_upsert(ev.filter(F.col("day") < 15), path, key="event_id", part_col="day")
    increment = ev.filter((F.col("day") >= 10) & (F.col("day") < 20)).withColumn(
        "c", F.col("c") + F.lit(100)
    )
    sink_upsert(increment, path, key="event_id", part_col="day")
    return (
        scan_version(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sum_c"),
        )
    )


def sink_partitioned(df: DataFrame, path: str, part_col: str) -> None:
    """Hive-layout partitioned parquet sink with DYNAMIC partition
    overwrite: a rewrite touches only the partitions present in the
    incoming frame, never truncating the rest of the table — the standard
    object-store ingest/backfill contract (a day's restatement rewrites
    one directory out of thousands). Readers get directory-level
    partition pruning on `part_col` for free."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(path)
    )


def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → day-partitioned sink → ONE day restated (values doubled)
    via dynamic overwrite → pruned 3-day read-back rollup.

    Proves the two scale-critical properties together: the restatement
    rewrote only day 19735's directory (every other day's rows are
    byte-identical originals), and the read-back scan's PartitionFilters
    prune to the 3 requested directories (plan-asserted in
    tests/test_sources.py). The oracle recomputes the same rollup from
    the source table with the day-19735 doubling applied inline."""
    from kdb_spark.tables import DAY_US, events_us

    ev = events_us(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
        (F.col("ts_us") / F.lit(DAY_US)).cast("long").alias("day_idx"),
    )
    path = _tmp("daypart")
    sink_partitioned(ev, path, "day_idx")
    restated = ev.filter(F.col("day_idx") == 19735).withColumn(
        "value_c", F.col("value_c") * F.lit(2)
    )
    sink_partitioned(restated, path, "day_idx")
    back = spark.read.parquet(path)
    # partition-directory columns read back as inferred INT — normalize to
    # the engine's long convention before grouping
    back = back.withColumn("day_idx", F.col("day_idx").cast("long"))
    return (
        back.filter(F.col("day_idx").between(19734, 19736))
        .groupBy("day_idx", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value_c").cast("long").alias("sum_c"),
        )
    )


def sink_scd2(snapshot: DataFrame, path: str, key: str, eff_ts: int) -> int:
    """Apply a FULL dimension snapshot to a slowly-changing-dimension
    type-2 history table at ``path`` — the warehouse pattern that keeps
    every attribute version with [valid_from, valid_to) ranges so facts
    can join the dimension AS OF any time (the table-format sibling of
    `scan_time_travel`, which versions whole tables; SCD2 versions ROWS).

    Merge semantics per key (one full-outer join on the open rows):
    unchanged → open row survives; changed → old row closes at
    ``eff_ts`` and the new version opens; new key → opens; absent from
    the snapshot → closes (a full snapshot asserts the universe). Closed
    history is immutable — it unions through untouched.

    Scale shape: closed rows never join anything (filter + union only);
    the open-vs-snapshot full-outer join is one dimension-sized shuffle.
    The rewrite commits through the manifest (`sink_versioned`), so a bad
    merge is a one-manifest rollback; localCheckpoint cuts the read-own-
    input lineage exactly as `sink_upsert` does. At 100 TB a dimension is
    executor-trivial; the pattern matters because it is the CORRECTNESS
    contract fact joins depend on.
    """
    spark = snapshot.sparkSession
    attrs = [c for c in snapshot.columns if c != key]
    import os

    if not os.path.exists(os.path.join(path, "_log")):
        init = snapshot.withColumn(
            "valid_from", F.lit(eff_ts).cast("long")
        ).withColumn("valid_to", F.lit(None).cast("long"))
        return sink_versioned(init, path, mode="overwrite")
    hist = scan_version(spark, path)
    open_r = hist.filter(F.col("valid_to").isNull())
    closed_r = hist.filter(F.col("valid_to").isNotNull())
    o = open_r.select(
        key,
        *[F.col(a).alias(f"_o_{a}") for a in attrs],
        F.col("valid_from").alias("_o_from"),
        F.lit(True).alias("_in_o"),
    )
    s = snapshot.select(key, *attrs, F.lit(True).alias("_in_s"))
    j = o.join(s, key, "full_outer")
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(f"_o_{a}").eqNullSafe(F.col(a))
    in_o = F.col("_in_o").isNotNull()
    in_s = F.col("_in_s").isNotNull()
    closes = j.filter(in_o & (~in_s | changed)).select(
        key,
        *[F.col(f"_o_{a}").alias(a) for a in attrs],
        F.col("_o_from").alias("valid_from"),
        F.lit(eff_ts).cast("long").alias("valid_to"),
    )
    keeps = j.filter(in_o & in_s & ~changed).select(
        key,
        *[F.col(f"_o_{a}").alias(a) for a in attrs],
        F.col("_o_from").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    inserts = j.filter(in_s & (~in_o | changed)).select(
        key,
        *attrs,
        F.lit(eff_ts).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    new_hist = (
        closed_r.select(key, *attrs, "valid_from", "valid_to")
        .unionByName(closes)
        .unionByName(keeps)
        .unionByName(inserts)
    )
    new_hist = new_hist.localCheckpoint(eager=True)
    return sink_versioned(new_hist, path, mode="overwrite")


def q_sink_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the customer dimension as SCD2, then apply a snapshot where
    every customer with balance ≥ $5000 moves to the UPGRADED segment —
    the read-back per-segment census (open rows, closed rows, open
    balance) proves changed keys closed exactly once, their new versions
    opened, and unchanged keys kept their original open row.
    """
    from kdb_spark.tables import cents, load

    path = _tmp("scd2")
    dim = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        cents("c_acctbal").alias("bal_c"),
    )
    sink_scd2(dim, path, key="c_custkey", eff_ts=0)
    snap2 = dim.withColumn(
        "c_mktsegment",
        F.when(F.col("bal_c") >= 500_000, F.lit("UPGRADED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    sink_scd2(snap2, path, key="c_custkey", eff_ts=1)
    hist = scan_version(spark, path)
    is_open = F.col("valid_to").isNull()
    return hist.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.sum(F.when(is_open, 1).otherwise(0)).cast("long").alias("n_open"),
        F.sum(F.when(~is_open, 1).otherwise(0)).cast("long").alias("n_closed"),
        F.sum(F.when(is_open, F.col("bal_c")).otherwise(0))
        .cast("long")
        .alias("sum_open_c"),
    )


def sink_vacuum(path: str, keep_last: int = 2) -> dict:
    """Garbage-collect a `sink_versioned` table: drop every version
    manifest older than the newest ``keep_last`` and physically delete
    the data dirs no surviving manifest references — the VACUUM /
    retention half of the table-format lifecycle (sink_versioned gives
    immutable snapshots; unbounded history is a storage leak at 100 TB,
    and this is the bounded-history contract every lakehouse exposes).

    Safety order matters and is the Delta/Iceberg discipline restated:
    (1) compute the survivor manifest set and its referenced-dir union
    FIRST, (2) delete the expired MANIFESTS (after this no reader can
    pin an expired snapshot — readers resolve versions through the log,
    so an in-flight scan that already resolved its file list is
    unaffected; local FS keeps open/reading files readable), (3) only
    then delete unreferenced data dirs. A crash between (2) and (3)
    leaks dirs (re-vacuum reclaims them), never breaks a readable
    version. Time travel keeps working for every surviving version.
    The sweep is two-level: whole unreferenced `data/<hex>` roots go
    first, and inside PARTIALLY-referenced roots (a partition-scoped
    merge pins only some `__pc=` leaf dirs) the superseded sibling
    leaf dirs are reclaimed individually.

    Returns {"versions_removed", "dirs_removed", "versions_kept"}.
    Reference tie: this is the table-format form of the reference's
    bucket retention sweep (/root/reference/dbase/dbase.go:323-364 —
    drop whole expired buckets, never rewrite survivors).
    """
    import json
    import os
    import shutil

    log_dir = os.path.join(path, "_log")
    versions = sorted(
        int(f.split(".")[0])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and not f.startswith(".")
    )
    if keep_last < 1:
        raise ValueError("sink_vacuum: keep_last must be >= 1")
    keep = versions[-keep_last:]
    expire = [v for v in versions if v not in keep]
    referenced: set[str] = set()
    for v in keep:
        # a torn surviving manifest must ABORT the vacuum before any
        # unlink: its true file references are unknown, so deleting
        # "unreferenced" data could destroy the rows it pins
        referenced.update(_load_manifest(path, v)["dirs"])
    for v in expire:
        os.unlink(os.path.join(log_dir, f"{v}.json"))
    data_root = os.path.join(path, "data")
    removed_dirs = 0
    if os.path.isdir(data_root):
        live_roots = {d.split(os.sep)[1] for d in referenced}
        for sub in sorted(os.listdir(data_root)):
            rel = os.path.join("data", sub)
            if rel in referenced:
                continue  # whole root is live
            if sub in live_roots:
                # PARTIALLY-referenced root: some __pc= leaf subdirs are
                # pinned by a surviving manifest but the root itself is
                # not — sweep the superseded sibling subdirs too, or a
                # long-lived partition-scoped table leaks every rewritten
                # partition's old files forever (second leak class).
                root_abs = os.path.join(data_root, sub)
                for leaf in sorted(os.listdir(root_abs)):
                    if not leaf.startswith("__pc="):
                        continue
                    if os.path.join(rel, leaf) in referenced:
                        continue
                    shutil.rmtree(
                        os.path.join(root_abs, leaf), ignore_errors=True
                    )
                    removed_dirs += 1
                continue
            shutil.rmtree(os.path.join(data_root, sub), ignore_errors=True)
            removed_dirs += 1
    return {
        "versions_removed": len(expire),
        "dirs_removed": removed_dirs,
        "versions_kept": len(keep),
    }


def q_sink_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v0 (days <10, later fully replaced) → v1 overwrite (days <20) →
    v2 append (days 20..29); vacuum keep_last=2 must delete v0's
    manifest AND its now-unreferenced dirs while v1/v2 read back
    byte-identically — the read-back aggregate is the oracle row."""
    import os

    from kdb_spark.tables import DAY_US, cents, events_us

    path = _tmp("vacuum")
    day0 = 19723
    ev = events_us(spark, sf_dir).select(
        "event_id", "event_type", cents("value").alias("c"), "ts_us"
    )
    day = F.expr(f"ts_us div {DAY_US}") - F.lit(day0)
    sink_versioned(ev.filter(day < 10), path, mode="overwrite")
    sink_versioned(ev.filter(day < 20), path, mode="overwrite")
    sink_versioned(ev.filter((day >= 20) & (day < 30)), path, mode="append")
    stats = sink_vacuum(path, keep_last=2)
    assert stats["versions_removed"] == 1 and stats["dirs_removed"] == 1, stats
    # expired version must be gone from the log (time travel to it raises)
    assert not os.path.exists(os.path.join(path, "_log", "0.json"))
    return (
        scan_version(spark, path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("sum_c"),
            F.min(F.expr(f"ts_us div {DAY_US}")).cast("long").alias("min_day"),
        )
    )


def scan_history(spark: SparkSession, path: str) -> DataFrame:
    """Table history of a `sink_versioned` table (DESCRIBE HISTORY):
    one row per committed version with its commit mode, visible-dir
    count, and how many dirs carry a partition mapping — the audit
    surface operators read before a rollback or a vacuum (version
    numbers + modes tell you WHAT each commit was; dir counts tell you
    what it would cost to time-travel or GC).

    Manifest-only: the log is read driver-side (it is log-bound — one
    small JSON per commit, the same scaling as Delta's history) and
    surfaced as a DataFrame; zero data IO.
    """
    import json
    import os

    log_dir = os.path.join(path, "_log")
    if not os.path.isdir(log_dir):
        raise ValueError(f"no versioned table at {path} (missing _log)")
    rows = []
    for f in sorted(os.listdir(log_dir)):
        if not f.endswith(".json") or f.startswith("."):
            continue
        m = _load_manifest(path, int(f.split(".")[0]))
        rows.append(
            (int(m["version"]), m["mode"], len(m["dirs"]),
             len(m.get("parts", {})))
        )
    rows.sort()
    return spark.createDataFrame(
        rows, "version long, mode string, n_dirs long, n_mapped long"
    )


def q_scan_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic three-commit history: overwrite seed (1 dir) →
    append (2 visible) → partition-scoped MERGE over days 5..14 (legacy
    dirs split into the 20 per-day dirs, all mapped) — the history table
    is fully determined by the commit sequence, so the oracle is the
    expected literal rows."""
    from kdb_spark.tables import DAY_US, cents, events_us

    path = _tmp("history")
    day0 = 19723
    ev = events_us(spark, sf_dir).select(
        "event_id",
        "event_type",
        cents("value").alias("c"),
        (F.expr(f"ts_us div {DAY_US}") - F.lit(day0)).alias("day"),
    )
    sink_versioned(ev.filter(F.col("day") < 10), path, mode="overwrite")
    sink_versioned(
        ev.filter((F.col("day") >= 10) & (F.col("day") < 20)), path, mode="append"
    )
    inc = ev.filter((F.col("day") >= 5) & (F.col("day") < 15)).withColumn(
        "c", F.col("c") + F.lit(1)
    )
    sink_upsert(inc, path, key="event_id", part_col="day")
    return scan_history(spark, path)


def scan_csv_malformed(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """PERMISSIVE CSV scan that SURFACES malformed rows instead of
    crashing (FAILFAST) or silently dropping them (DROPMALFORMED): rows
    that don't parse land with nulls plus the raw line in a
    `_corrupt_record` column — the dirty-ingest contract every
    real feed needs (a 100 TB ingest with one bad line must neither die
    nor lie about its row count). The caller gets the full partition of
    good + quarantined rows in ONE pass.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.option("header", False)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .csv(path)
    )


def q_scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dirty-feed fixture pinning PERMISSIVE's exact fine
    print: 4 rows quarantine — two type-conversion failures (non-numeric
    id / value), one SHORT row, one extra-column row — and quarantined
    rows RETAIN their successfully-converted fields next to the raw line.
    The census references EVERY schema column deliberately: with CSV
    column pruning (the default) a projection that drops a column stops
    the parser from seeing token-count anomalies, so a narrower census
    would silently reclassify the short/extra rows as good — the exact
    plan-dependence trap this query pins. Good rows aggregate exactly;
    quarantined rows are counted with their raw text length summed, so a
    silently-dropped line flips two columns, not one. The oracle is the
    literal expected census (the fixture is deterministic)."""
    import os

    d = _tmp("csvmal")
    lines = [
        "1,click,5.25",
        "2,view,1.00",
        "oops,click,2.00",          # bad id -> quarantined
        "3,purchase,10.50",
        "4,click,not_a_number",     # bad value -> quarantined
        "5,view,3.25",
        "6,view",                    # short row -> quarantined (full parse)
        "7,purchase,0.75,extra",     # extra column -> quarantined
        "8,click,2.50",
    ]
    with open(os.path.join(d, "feed.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("etype", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = scan_csv_malformed(spark, d, schema)
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(bad.cast("long")).cast("long").alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("id"))).cast("long").alias("sum_good_id"),
        # etype referenced on purpose: every schema column must appear in
        # the plan or column pruning re-classifies token-count anomalies
        F.count_distinct(F.when(~bad, F.col("etype"))).cast("long")
        .alias("n_good_types"),
        F.sum(F.when(~bad, F.expr("CAST(round(value * 100) AS BIGINT)")))
        .cast("long")
        .alias("sum_good_value_c"),
        F.sum(F.when(bad, F.length("_corrupt_record"))).cast("long")
        .alias("corrupt_chars"),
    )


def sink_csv_gzip(df: DataFrame, path: str, header: bool = True) -> None:
    """Gzip-compressed CSV sink: the line-oriented interchange format as
    it actually arrives at 100 TB (raw web/text corpora ship as .csv.gz /
    .tsv.gz shards). Spark's text sources are codec-transparent — the
    same scan_csv reads back .gz parts by extension with no config; the
    cost is that gzip is NOT splittable, so one .gz file = one task:
    shard counts, not file sizes, set the read parallelism (write-side
    partitioning is the knob, exactly as this sink leaves it)."""
    df.write.mode("overwrite").option("header", header).option(
        "compression", "gzip"
    ).csv(path)


def q_scan_csv_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → gzip CSV → scan_csv: same schema contract as q_scan_csv,
    proving the codec-transparent read path end-to-end (the parts on disk
    are real .csv.gz; DEFLATE round-trips the bytes losslessly so the
    oracle compares exact values)."""
    df = scan_parquet(spark, f"{sf_dir.rstrip('/')}/nation.parquet")
    path = _tmp("csvgz")
    sink_csv_gzip(df, path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return scan_csv(spark, path, schema=schema)


def cdc_apply(snapshot: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Apply a CDC change batch (op ∈ I/U/D, monotonically increasing
    ``seq`` per change) to a snapshot — the debezium-shaped MERGE every
    warehouse mirror runs: per key, the HIGHEST-seq change wins; a
    winning D deletes the key, I/U upserts its row; keys untouched by the
    batch carry over. `sink_upsert` is the storage-level LWW merge; this
    is the log-driven form with explicit deletes and intra-batch
    ordering (one batch can carry I→U→D for the same key and must apply
    as if replayed in order — i.e. only the final state lands).

    Spark shape: winner-per-key via max_by over the change batch (ONE
    hash agg, no sort), then snapshot LEFT ANTI changed-keys (survivors)
    UNION the non-delete winners. Two shuffles on the key, both
    bounded by |changes| + |snapshot|; at 100 TB the change batch is
    increment-sized and broadcast-joins under AQE.
    """
    # The winner's op only matters as delete-vs-not, so reduce it to an
    # int BEFORE the argmax: max_by over the STRING op carries a
    # variable-width buffer, which demotes the winner agg (this op's one
    # fact-sized pass) to SortAggregate; the (int, long) pair keeps it
    # the advertised two-phase hash agg with map-side partials.
    winners = (
        changes.groupBy(key)
        .agg(
            F.max_by((F.col("op") == "D").cast("int"), "seq").alias("is_del"),
            F.max_by("payload", "seq").alias("payload"),
        )
    )
    carried = snapshot.join(winners.select(key), key, "left_anti")
    applied = winners.filter(F.col("is_del") == 0).select(key, "payload")
    return carried.unionByName(applied)


def q_sink_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC fixture over orders: snapshot = orders with
    cents payload; change batch derived from the md5_slot of the key —
    slot%10==0 → D, slot%10 in {1,2} → U (payload+100, seq 2, after a
    decoy seq-1 U of +999 that must LOSE), slot%10==3 → I of a fresh key
    (orderkey+10^9). Read-back census per o_orderpriority-less: count +
    exact payload sum prove deletes landed, the seq-2 update beat the
    seq-1 decoy, inserts appended, and everything else carried."""
    from kdb_spark.tables import cents, md5_slot

    snap = scan_parquet(spark, f"{sf_dir.rstrip('/')}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), cents("o_totalprice").alias("payload")
    )
    slot = md5_slot("k", hex_chars=4, mod=10)
    keyed = snap.withColumn("slot", slot)
    deletes = keyed.filter(F.col("slot") == 0).select(
        "k", F.lit("D").alias("op"), F.lit(None).cast("long").alias("payload"),
        F.lit(1).alias("seq"),
    )
    upd_decoy = keyed.filter(F.col("slot").isin(1, 2)).select(
        "k", F.lit("U").alias("op"),
        (F.col("payload") + 999).alias("payload"), F.lit(1).alias("seq"),
    )
    upd_final = keyed.filter(F.col("slot").isin(1, 2)).select(
        "k", F.lit("U").alias("op"),
        (F.col("payload") + 100).alias("payload"), F.lit(2).alias("seq"),
    )
    inserts = keyed.filter(F.col("slot") == 3).select(
        (F.col("k") + F.lit(1_000_000_000)).alias("k"),
        F.lit("I").alias("op"),
        F.lit(555).cast("long").alias("payload"),
        F.lit(1).alias("seq"),
    )
    changes = deletes.unionByName(upd_decoy).unionByName(upd_final).unionByName(
        inserts
    )
    out = cdc_apply(snap, changes, key="k")
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("payload").cast("long").alias("sum_payload"),
        F.sum(F.when(F.col("k") >= 1_000_000_000, 1).otherwise(0))
        .cast("long")
        .alias("n_inserted"),
    )


def q_scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED JSON ingest — the shape event/API feeds actually arrive in
    (an order document carrying its items as an array of objects), where
    `scan_json` proves the flat case. Build order docs with a sorted
    items array, round-trip through real JSON-lines files, read back
    with an EXPLICIT nested schema (array<struct<...>> — never
    sample-inferred at scale: inference costs a full extra pass and
    nulls out late-appearing fields), explode_outer the array, and
    aggregate. Money normalized to cents pre-write so JSON transit is
    lossless and the oracle compares exact integers.

    Scale shape: the explode is map-side (no shuffle until the final
    dimension-keyed agg); JSON-lines split per line, so read parallelism
    is file-granular — at 100 TB this path exists for INGEST-EDGE data
    that then lands in parquet (scan_parquet), not as the resident
    format.
    """
    from kdb_spark.tables import cents

    orders = scan_parquet(spark, f"{sf_dir.rstrip('/')}/orders.parquet").filter(
        F.col("o_orderstatus") == "F"
    )
    li = scan_parquet(spark, f"{sf_dir.rstrip('/')}/lineitem.parquet").select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("line_no"),
        cents("l_extendedprice").alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    items = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("line_no", "price_c", "qty"))).alias(
            "items"
        )
    )
    nested = (
        orders.select(
            F.col("o_orderkey").alias("k"),
            cents("o_totalprice").alias("total_c"),
            "o_orderpriority",
        )
        .join(items, F.col("k") == F.col("l_orderkey"), "left")
        .drop("l_orderkey")
    )
    path = _tmp("json_nested")
    sink_json(nested, path)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("total_c", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("line_no", T.IntegerType()),
                            T.StructField("price_c", T.LongType()),
                            T.StructField("qty", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    back = scan_json(spark, path, schema=schema)
    ex = back.select(
        "o_orderpriority", "k", "total_c", F.explode_outer("items").alias("it")
    )
    return ex.groupBy("o_orderpriority").agg(
        F.countDistinct("k").cast("long").alias("n_orders"),
        F.count("it.line_no").cast("long").alias("n_items"),
        F.sum("it.price_c").cast("long").alias("items_price_c"),
        F.sum(F.col("it.qty")).cast("long").alias("items_qty"),
    )
