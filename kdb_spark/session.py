"""The one SparkSession factory for every local harness.

:func:`get_spark` builds (or reuses, via ``getOrCreate``) a local-mode
session for the tests, ``bench.py``, perfbench and the tools. Local mode is
one JVM, so ``spark.driver.memory`` is the only memory knob that matters.

Results never depend on a conf set here: a session built elsewhere (a
caller of ``__spark_entry__.queries()`` may pass its own) gives the same
rows, and no query's time arithmetic consults the session time zone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kdb_spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a ``local[cpus]`` session; ``cpus`` defaults to
    ``SPARK_GRAFT_CPUS`` and the heap to ``SPARK_GRAFT_DRIVER_MEM`` (16g)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # pandas <-> Spark via Arrow: ~4x faster on a 13k-row pandas frame
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
