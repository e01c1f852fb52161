"""kdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of meteorhacks/kdb (reference: /root/reference).

The reference is an embedded time-series store with four verbs — Put, Get,
Find, RemoveBefore (`kdb.go:6-15`) — over a dense, time-quantized series
matrix. This package re-expresses those semantics Spark-first:

- storage: parquet partitioned by ``bucket_ts`` (the reference's time buckets,
  `kdb.go:17-19`), immutable cold partitions, streaming hot path;
- queries: declarative DataFrame plans (spine-join densification, wildcard
  tag filters, last-write-wins) optimized by Catalyst;
- analytics layer: aggregations, windows, joins (incl. as-of / interval),
  set ops, scalar functions — none of which exist in the reference but which
  its dense slot model was built to feed (SURVEY.md §2.B);
- LLM-data operators: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
  similarity search, text analysis, multimodal columns (SURVEY.md §2.K).

Nothing here is a port: no mmap, no prefix tree, no segment files. Catalyst
partition pruning replaces the bucket loop (`dbase/dbase.go:177-188`), parquet
row-group stats replace the tag index (`mindex/mindex.go:112-168`), and the
parquet/commit protocol replaces the append-log recovery
(`mindex/mindex.go:187-240`).
"""

from kdb_spark.config import StoreConfig
from kdb_spark.errors import (
    ColdWriteError,
    ConcurrentWriteError,
    FutureTimestampError,
    HotBucketRemoveError,
    KdbSparkError,
    RangeError,
    ValidationError,
)
from kdb_spark.session import get_spark
from kdb_spark.store import TimeSeriesStore

__all__ = [
    "StoreConfig",
    "TimeSeriesStore",
    "get_spark",
    "KdbSparkError",
    "ValidationError",
    "FutureTimestampError",
    "ColdWriteError",
    "ConcurrentWriteError",
    "HotBucketRemoveError",
    "RangeError",
]
