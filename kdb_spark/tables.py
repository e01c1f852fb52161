"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

The physical type of ``events.ts`` has drifted across driver testdata
generations — parquet TIMESTAMP(NANOS) (read as LongType ns via
``spark.sql.legacy.parquet.nanosAsLong``) and plain ``timestamp[us]``
(read as TimestampNTZ). The engine's internal clock is a µs epoch long
(SURVEY.md §1.4: kdb timestamps are int64 ns, `clock/clock.go:20-22`; µs is
the finest granularity both engines agree on), so the loaders dispatch on
the *observed* schema and normalize to ``ts_us``:

- LongType (ns)            → ``ts div 1000``  (truncation toward zero)
- TimestampNTZ             → ``timestampdiff(MICROSECOND, <NTZ epoch>, ts)``,
  wall-clock arithmetic that never consults the session time zone, so it
  reproduces DuckDB's ``epoch_us(ts)`` exactly in any session
- Timestamp (an instant)   → ``unix_micros(ts)``, zone-free by definition

Cross-engine note (oracle parity): DuckDB truncates sub-µs input to
microseconds on read, so every time comparison in the oracle-checked queries
is defined at microsecond (or coarser) granularity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# time constants, microseconds
SEC_US = 1_000_000
MIN_US = 60 * SEC_US
HOUR_US = 3_600 * SEC_US
DAY_US = 86_400 * SEC_US


# Memoized DataFrame handles capture the file listing at first read, so the
# cache is restricted to roots the engine treats as immutable input data.
# Anything else (temp dirs, sink paths, a user's own tables) is re-listed on
# every load — a write-then-reload must never see a stale listing. A
# deployment with testdata elsewhere extends the set via the colon-separated
# SPARK_GRAFT_READONLY_ROOTS env var (the memoization is load-bearing for
# cold bench timings, so losing it should be a choice, not an accident).
import os as _os


def _parse_roots(raw: str) -> tuple[str, ...]:
    """Normalize the extra-roots env var: entries are abspath'd so they
    match the abspath'd probe in ``_cacheable``; relative entries (which
    could never match) and '/' (which would re-enable caching for EVERY
    path, resurrecting the write-then-reload stale-listing hazard this
    restriction exists to prevent) are rejected loudly."""
    roots = []
    for r in raw.split(":"):
        if not r:
            continue
        # POSIX abspath('//') == '//', so compare with slashes stripped
        if not _os.path.isabs(r) or not _os.path.abspath(r).strip("/"):
            raise ValueError(
                f"SPARK_GRAFT_READONLY_ROOTS entry {r!r} must be an "
                "absolute path other than '/'"
            )
        roots.append(_os.path.abspath(r) + "/")
    return tuple(roots)


_READONLY_ROOTS = ("/root/testdata/",) + _parse_roots(
    _os.environ.get("SPARK_GRAFT_READONLY_ROOTS", "")
)


def _cacheable(path: str) -> bool:
    import os.path

    return os.path.abspath(path).startswith(_READONLY_ROOTS)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table; ns timestamps (if any) surface as LongType.

    DataFrame handles are memoized per session+path (the cache dict lives ON
    the session object, so its lifetime is the session's): a DataFrame is an
    immutable logical plan, so reuse is safe, and it skips the cold
    file-listing + parquet-footer schema read every query otherwise re-pays.
    Memoization applies ONLY to the known read-only testdata roots
    (`_READONLY_ROOTS`) — paths that can be written to are read fresh.
    """
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    cache: dict[str, DataFrame] = spark.__dict__.setdefault("_kdbs_load_cache", {})
    df = cache.get(path)
    if df is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if _cacheable(path):
            cache[path] = df
    return df


# NTZ arithmetic is wall-clock arithmetic; a cast to or from TIMESTAMP (an
# instant) would go through the session time zone
NTZ_EPOCH = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def ts_us_expr(df: DataFrame, col: str = "ts") -> Column:
    """µs-epoch long view of a timestamp column, whatever its physical type."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):  # ns-long (legacy nanosAsLong read)
        return F.expr(f"{col} div 1000")
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, {NTZ_EPOCH}, {col})")
    if isinstance(dt, T.DateType):  # midnight of the day, like NTZ
        return F.unix_date(F.col(col)).cast("long") * DAY_US
    return F.unix_micros(F.col(col))


def ts_raw_range(
    df: DataFrame, start_us: int, end_us: int, col: str = "ts"
) -> Column:
    """[start,end) predicate stated in the raw column's OWN type, so it can
    reach the parquet scan (PushedFilters → row-group stat skipping). A
    filter on the derived ``ts_us`` column never pushes down; this one does.
    The boundary literals constant-fold — the scan side stays a bare column
    reference."""
    dt = df.schema[col].dataType
    c = F.col(col)
    if isinstance(dt, T.LongType):  # ns-long: exact for nonnegative ts
        return (c >= start_us * 1000) & (c < end_us * 1000)
    if isinstance(dt, T.TimestampNTZType):
        lo = F.expr(f"timestampadd(MICROSECOND, {start_us}, {NTZ_EPOCH})")
        hi = F.expr(f"timestampadd(MICROSECOND, {end_us}, {NTZ_EPOCH})")
    else:
        lo = F.timestamp_micros(F.lit(start_us))
        hi = F.timestamp_micros(F.lit(end_us))
    return (c >= lo) & (c < hi)


def events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_us`` (µs epoch long) — the oracle-comparable clock.
    Memoized per session+path like ``load`` (immutable plan, same cache)."""
    cache: dict[str, DataFrame] = spark.__dict__.setdefault("_kdbs_load_cache", {})
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    key = f"{path}#ts_us"
    out = cache.get(key)
    if out is None:
        df = load(spark, sf_dir, "events")
        out = df.withColumn("ts_us", ts_us_expr(df))
        if _cacheable(path):
            cache[key] = out
    return out


def cents(col: str | F.Column) -> F.Column:
    """Exact money arithmetic for oracle-checked sums.

    Per-row double→bigint-cents is bit-deterministic in both engines
    (same IEEE multiply + half-up round on identical inputs), and bigint
    sums are order-independent — unlike double sums, whose accumulation
    order differs run-to-run and engine-to-engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def pick_key(width_us: int) -> F.Column:
    """Packed BIGINT pick key replacing ``struct(ts_us, event_id)`` in the
    bar-family ``min_by``/``max_by`` open/close picks.

    Within any bucket of width ``width_us`` whose start is an aligned
    multiple (``ts div width`` / ``ts − ts % width`` groupings), numeric
    order of ``(ts_us % width) << shift | event_id`` equals the lexical
    order of ``struct(ts_us, event_id)`` — identical picks, identical
    ties (event_id is unique). The point is the aggregate BUFFER: a
    struct ordering key demotes the whole fact-sized bar rollup to
    SortAggregate (a full sort of the fact table per bucket), while the
    single long keeps every slot fixed-width, so it plans as a two-phase
    HashAggregate with map-side partials.

    ``shift = 63 − bits(width−1)`` spends the long's bits on the in-bucket
    offset first and range-guards event_id into the remainder (2^31 for
    hourly bars, 2^26 for daily) — an out-of-range id raises a labeled
    error BEFORE the pack could alias two rows, the join_band discipline.
    """
    shift = 63 - (width_us - 1).bit_length()
    eid = F.when(
        F.col("event_id").between(0, (1 << shift) - 1), F.col("event_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pick_key: event_id outside {shift}-bit pack range: "),
                F.col("event_id").cast("string"),
            )
        )
    )
    return F.shiftleft(F.col("ts_us") % F.lit(width_us), shift) + eid


def md5_slot(
    col: str | F.Column, hex_chars: int = 6, mod: int = 1_000_000
) -> F.Column:
    """The engine's portable deterministic-sampling slot: first
    ``hex_chars`` hex digits of md5(key-as-string) as an integer, mod
    ``mod``. THE one definition of the convention every hash-gated op
    (sample_hash, mix_apply, curation_token_budget, text_hash_features)
    and its DuckDB oracle mirror must agree on — md5 is the only hash
    both engines (and most others) evaluate identically; xxhash/murmur
    seeds differ across engines. Repartition- and insertion-order-stable
    by construction.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, hex_chars), 16, 10).cast(
            "long"
        )
        % mod
    )
