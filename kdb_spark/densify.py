"""Dense slot generation for range reads, and the read-width rule.

The reference returns *dense* range-scan results by construction: records are
preallocated zero-filled slot arrays, so a range read is a contiguous slice
with gaps physically present as zero bytes (`dblock/dblock.go:220-231`,
`dbase/dbase.go:75-81`). Spark stores sparse rows, so density is
reconstructed at query time from generated slots: ``time_spine`` (one
series) and ``dense_grid`` (one grid per series row). The store's ``get``
and ``find`` (like ``kernel.get_dense``) union those slots as zero sentinels
into their last-write-wins aggregate, so no join is involved; the kernel's
``find_dense`` and the gap-filling windows left-join their rows onto a grid.
``read_partitions`` sizes both the spine and the store's aggregates.

Scale notes (100 TB posture, SURVEY.md §7):
- The single-series spine is generated *distributed* with ``spark.range`` (a
  parallel range source, no driver-side materialization) — never a collected
  Python list, never one giant in-row array.
- Per-series grids are generated MAP-SIDE with a chunked
  ``explode(sequence(...))`` per series row (``dense_grid``) — no cross
  join, no broadcast, so the range width is unbounded (a spine crossJoin
  compiles to BroadcastNestedLoopJoin and caps the range at broadcast size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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
    chunk to ≤ ``chunk`` slots, so no in-row array exceeds ``chunk`` elements
    and no join/broadcast is involved. A year of 1-second slots (31M per
    series) is ~7.7k chunk rows per series, streamed through whole-stage
    codegen.
    """
    n = max(0, (end - start) // resolution)
    if n == 0:
        return series.selectExpr("*", f"0L AS {ts_col}").limit(0)
    step = chunk * resolution
    return (
        series.selectExpr("*", f"explode(sequence(0, {(n - 1) // chunk})) AS _chunk")
        .selectExpr(
            "*",
            f"explode(sequence({start}L + _chunk * {step}L, "
            f"least({start}L + (_chunk + 1) * {step}L, {end}L) - {resolution}L, "
            f"{resolution}L)) AS {ts_col}",
        )
        .drop("_chunk")
    )
