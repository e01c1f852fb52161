"""Spine-join densification for multi-series reads, and the read-width rule.

The reference returns *dense* range-scan results by construction: records are
preallocated zero-filled slot arrays, so a range read is a contiguous slice
with gaps physically present as zero bytes (`dblock/dblock.go:220-231`,
`dbase/dbase.go:75-81`). Spark stores sparse rows, so density is
reconstructed at query time:

    spine(start, end, res)  LEFT JOIN  data ON slot  →  coalesce(val, zero)

In the store this join now serves ``find`` only: its output holds one grid
per series present, which is not known until the scan runs. The store's
``get`` (like ``kernel.get_dense``) needs no join: it unions ``time_spine``'s
slots as zero sentinels into its last-write-wins aggregate (see store.py).
``read_partitions`` sizes both the spine and that aggregate.

Scale notes (100 TB posture, SURVEY.md §7):
- The single-series spine is generated *distributed* with ``spark.range`` (a
  parallel range source, no driver-side materialization) — never a collected
  Python list, never one giant in-row array.
- Per-series grids are generated MAP-SIDE with a chunked
  ``explode(sequence(...))`` per series row (``dense_grid``) — no cross
  join, no broadcast, so the range width is unbounded (a spine crossJoin
  compiles to BroadcastNestedLoopJoin and caps the range at broadcast size).
- The join key is the already-quantized slot value, so the gap-fill join is
  a plain equi-join that AQE can turn into a broadcast join when the
  filtered data side is small (the common case: one series × bounded range).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


SLOTS_PER_PARTITION = 65536


def read_partitions(spark: SparkSession, n_slots: int, n_bytes: int = 0) -> int:
    """Partitions for a read of ``n_slots`` slots over ``n_bytes`` of part
    files: one per 65,536 slots or per ``spark.sql.files.maxPartitionBytes``
    of input, whichever needs more, at least one and at most the cluster's
    default parallelism. A few-thousand-slot read over small buckets is one
    partition, so it pays no full-width task overhead."""
    n = -(-n_slots // SLOTS_PER_PARTITION)
    if n_bytes:
        per = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        n = max(n, -(-n_bytes // per))
    return max(1, min(spark.sparkContext.defaultParallelism, n))


def time_spine(
    spark: SparkSession,
    start: int,
    end: int,
    resolution: int,
    ts_col: str = "ts",
) -> DataFrame:
    """One row per slot in ``[start, end)`` (end-exclusive), step ``resolution``.

    Mirrors the result-length contract ``(end-start)/Resolution``
    (`dbase/dbase.go:183-184`). ``spark.range`` is distributed and splits the
    id space across executors, so a 10^9-slot spine is fine; its partition
    count is ``read_partitions`` of the slot count.
    """
    n = max(0, (end - start) // resolution)
    # one SQL expression: each Column call is a py4j round trip
    return spark.range(0, n, 1, read_partitions(spark, n)).selectExpr(
        f"CAST({start} + id * {resolution} AS BIGINT) AS {ts_col}"
    )


def dense_grid(
    series: DataFrame,
    start: int,
    end: int,
    resolution: int,
    ts_col: str = "ts",
    chunk: int = 4096,
) -> DataFrame:
    """series × every slot in ``[start, end)`` — generated map-side.

    Two-level explode: each series row fans out to its slot chunks, each
    chunk to ≤ ``chunk`` slots, so no single in-row array exceeds ``chunk``
    elements and no join/broadcast is involved. A year of 1-second slots
    (31M per series) is ~7.7k chunk rows per series, streamed through
    whole-stage codegen.
    """
    n = max(0, (end - start) // resolution)
    if n == 0:
        return series.withColumn(ts_col, F.lit(0).cast("long")).limit(0)
    n_chunks = (n + chunk - 1) // chunk
    step = chunk * resolution
    return (
        series.withColumn("_chunk", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))))
        .withColumn(
            ts_col,
            F.explode(
                F.sequence(
                    F.lit(start) + F.col("_chunk") * F.lit(step),
                    F.least(
                        F.lit(start) + (F.col("_chunk") + 1) * F.lit(step),
                        F.lit(end),
                    )
                    - F.lit(resolution),
                    F.lit(resolution),
                ).cast("array<long>")
            ),
        )
        .drop("_chunk")
    )


def densify(
    spine: DataFrame,
    data: DataFrame,
    on: list[str],
    value_col: str,
    fill: Column,
) -> DataFrame:
    """LEFT-JOIN ``data`` onto the grid/spine, filling gaps.

    ``fill`` is the zero payload (`dbase/dbase.go:75-81`) — the reference's
    "missing data is zero bytes, not null" contract.
    """
    out = spine.join(data, on=on, how="left")
    return out.withColumn(value_col, F.coalesce(F.col(value_col), fill))
