"""TimeSeriesStore — the reference's four verbs, Spark-first.

Reference surface (`kdb.go:6-15`): ``Put``, ``Get``, ``Find``,
``RemoveBefore``, ``Close``. Storage here is parquet partitioned by
``bucket_ts`` (one partition per reference bucket, `kdb.go:17-19`,
`dbase/dbase.go:386-434`); rows are ``(ts, tag1..tagN, payload, ingest_seq,
bucket_ts)``. The tag index (`mindex/mindex.go`) has no materialized
equivalent: Catalyst predicate pushdown + partition pruning + parquet
row-group stats provide the same skipping (SURVEY.md §4).

Semantics reproduced exactly (golden-tested in tests/test_store.py):
- ts floored to resolution on ingest (`dbase/dbase.go:127`)
- future-ts rejection vs a *virtual now* (`dbase/dbase.go:129-132`;
  ``now`` is an explicit parameter — the clock analog, `clock/clock.go:24-46`)
- tag arity / empty-tag / payload-size validation (`dbase/dbase.go:134-146`)
- cold-bucket write rejection (`dbucket/dbucket.go:120-122`,
  hot window = last ``max_hot_buckets`` buckets, `dbase/dbase.go:403-424`)
- end-exclusive dense reads, ``(end-start)/resolution`` slots, zero-byte
  gap fill (`dbase/dbase.go:183-184`, `:75-81`)
- ``get`` of an absent series → all-zero slots, not an error
  (`dbase/dbase.go:216-225`)
- ``find`` wildcard tags (``""``), returns only series present in a scanned
  bucket, each densified over the whole range (`dbase/dbase.go:256-320`,
  `mindex/mindex.go:126-168`)
- last-write-wins per (series, slot) (`dblock/dblock.go:198-205`) via
  ``max_by(payload, ingest_seq)``
- retention drops whole buckets, refuses hot ones (`dbase/dbase.go:323-364`)

Scale posture: reads never collect. ``get`` and ``find`` are each one
last-write-wins aggregate over the range's rows and generated zero-sentinel
slots (a distributed spine for ``get``, a map-side grid per series present
for ``find``), on ``read_partitions`` partitions (see densify.py): a narrow
read over small buckets is one partition and runs as one Spark job, a wide
one stays distributed. Both build their filters as SQL strings.
Writes append partitioned parquet (on a cluster this would be exactly the
same code against object storage, with the hot path fed by Structured
Streaming — kdb_spark/streaming.py). No verb pays a fixed Spark cost
unrelated to its data: reads take their schema from the config (checked
once against a part-file footer at open) and list only the bucket dirs their
range touches, so building a read DataFrame launches no job; tuple puts
reach the JVM as one Arrow table, so the write job is the batch's only job
and runs no Python worker.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kdb_spark.config import StoreConfig
from kdb_spark.densify import dense_grid, read_partitions, time_spine
from kdb_spark.errors import (
    ColdWriteError,
    FutureTimestampError,
    HotBucketRemoveError,
    RangeError,
    ValidationError,
)

WILDCARD = ""  # `mindex/mindex.go:133-142`: "" matches any tag at that depth


class TimeSeriesStore:
    def __init__(self, spark: SparkSession, config: StoreConfig):
        self.spark = spark
        self.config = config
        self.path = os.path.join(config.data_path, config.database_name)
        os.makedirs(self.path, exist_ok=True)
        # two-tier read cache (`dbase/dbase.go:83-114`): hot buckets pinned,
        # cold buckets streamed. Built lazily on the first hot-range read.
        self._hot_df: DataFrame | None = None
        self._hot_min: int | None = None
        self._recover()
        self._check_files_match_config()

    # ------------------------------------------------------------------ schema

    @property
    def file_schema(self) -> T.StructType:
        """The columns of every part file."""
        fields = [T.StructField("ts", T.LongType(), False)]
        fields += [T.StructField(c, T.StringType(), False) for c in self.config.tag_cols]
        fields += [
            T.StructField("payload", T.BinaryType(), False),
            T.StructField("ingest_seq", T.LongType(), False),
            T.StructField("row_seq", T.LongType(), False),
        ]
        return T.StructType(fields)

    @property
    def schema(self) -> T.StructType:
        """A read's columns: the file columns plus the partition column."""
        return self.file_schema.add("bucket_ts", T.LongType(), False)

    def _bucket_dir(self, base: int) -> str:
        return os.path.join(self.path, f"bucket_ts={base}")

    def _buckets(self) -> list[int]:
        """Bases of the bucket partitions a reader sees, ascending.

        A bucket dir holding only hidden (un-committed / mid-publish) parts
        does not count: Spark's file index skips `_`/`.` names, so reading
        it would yield nothing.
        """
        out = []
        for e in os.listdir(self.path):
            if e.startswith("bucket_ts=") and any(
                not p.startswith(("_", ".")) for p in os.listdir(os.path.join(self.path, e))
            ):
                out.append(int(e.split("=", 1)[1]))
        return sorted(out)

    def _read(self, buckets: list[int]) -> DataFrame:
        """Rows of the given bucket partitions, or an empty relation when
        there are none (Catalyst folds ``limit 0`` away: no scan, no job).

        The schema is the store's own, never inferred, and only the listed
        bucket dirs are listed — building the DataFrame runs no Spark job.
        basePath keeps ``bucket_ts`` a real partition column.
        """
        if not buckets:
            return self.spark.range(0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in self.schema]
            ).limit(0)
        return (
            self.spark.read.schema(self.schema)
            .option("basePath", self.path)
            .parquet(*[self._bucket_dir(b) for b in buckets])
        )

    def _check_files_match_config(self) -> None:
        """With the schema taken from the config, data written under another
        config (e.g. a different ``index_depth``) would read its missing tag
        columns as null — silent zeros. Compare one visible part file's
        parquet footer with the config's columns instead (pyarrow reads the
        footer directly: no Spark job)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        buckets = self._buckets()
        if not buckets:
            return
        d = self._bucket_dir(buckets[0])
        part = min(p for p in os.listdir(d) if not p.startswith(("_", ".")))
        got = pq.read_schema(os.path.join(d, part))
        want = to_arrow_schema(self.file_schema)
        # earlier versions wrote ingest_seq as int32; the reader widens it
        widened = [pa.int64() if t == pa.int32() else t for t in got.types]
        if got.names != want.names or widened != want.types:
            raise ValidationError(
                f"{d}/{part} has columns {got.names} ({got.types}), the config "
                f"{want.names} ({want.types}); reopen with the config it was written under"
            )

    # ------------------------------------------------------------------ ingest

    def _seq_file(self) -> str:
        return os.path.join(self.path, "_ingest_seq.json")

    def _next_batch_seq(self) -> int:
        """Atomically allocate the next batch sequence number.

        fcntl-locked read-modify-write with a tmp-file + ``os.replace``
        publish, so two concurrent ``put_batch`` calls (or two store
        instances on the same path) can never read the same counter. On a
        real cluster this would be a commit-log/Delta table version; the
        locked counter is its single-node analog.
        """
        f = self._seq_file()
        lock = f + ".lock"
        with open(lock, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            cur = 0
            if os.path.exists(f):
                with open(f) as fh:
                    cur = json.load(fh)["next"]
            tmp = f + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"next": cur + 1}, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, f)
        return cur

    def current_seq(self) -> int:
        """Upper bound on the committed batch sequences — the snapshot
        handle for ``get/find(as_of=...)`` time travel (-1 = nothing
        allocated). Sequences are allocated at ingest START, so a rejected
        or crashed ``put_batch`` burns one: the returned value may exceed
        the highest sequence with committed data. That is safe for
        ``as_of`` (a gap sequence simply filters to the same rows as its
        committed predecessor) — but it is an upper bound, not a promise
        that a batch with this exact sequence landed. The parquet-store
        analog of a Delta/Iceberg snapshot version: pin it before further
        ingest, read the store as of that moment forever after (modulo
        retention drops)."""
        f = self._seq_file()
        if not os.path.exists(f):
            return -1
        with open(f) as fh:
            return json.load(fh)["next"] - 1

    def put_batch(
        self,
        rows: DataFrame | Iterable[tuple],
        now: int,
    ) -> int:
        """Validated batch ingest — the reference's ``Put`` loop (O1).

        ``rows``: DataFrame (or iterable of tuples) with columns
        ``(ts, tag1..tagN, payload)``. Raises on ANY invalid row, mirroring
        the per-call errors of `dbase/dbase.go:125-159`. Returns rows written.

        Tuples become one Arrow table, which the JVM decodes: the write is
        the batch's only Spark job and no Python worker runs in it. Arrow
        batches become partitions in input order, so the partition-major
        ``row_seq`` still follows the batch's row order.
        """
        cfg = self.config
        if not isinstance(rows, DataFrame):
            rows = self._tuples_df(rows)

        expected = ["ts", *cfg.tag_cols, "payload"]
        missing = [c for c in expected if c not in rows.columns]
        if missing:
            raise ValidationError(f"missing columns: {missing} (tag arity is fixed, dbase.go:134-136)")

        # Single-pass validate-and-write: the write job carries an
        # `observe()` metric counting every violation class, landing in a
        # staging dir that is committed (renamed into place) only if all
        # counts are zero. One scan of the input, all-or-nothing semantics
        # mirroring the per-call rejections of `dbase/dbase.go:125-159`,
        # and no validate-then-write double evaluation of a possibly
        # nondeterministic source.
        from pyspark.sql import Observation

        hot_min = cfg.hot_min_base(now)
        batch = self._next_batch_seq()
        out = rows.selectExpr(
            f"ts - ts % {cfg.resolution} AS ts",  # dbase.go:127
            *cfg.tag_cols,
            "payload",
            f"CAST({batch} AS BIGINT) AS ingest_seq",
            # Intra-batch tiebreak: full 64-bit monotonically_increasing_id
            # (partition-major, row-minor — the batch's row order). No modulo,
            # so no aliasing at >=128 partitions; LWW ranks by
            # struct(ingest_seq, row_seq), see `_lww`.
            "monotonically_increasing_id() AS row_seq",
            # the input ts: the resolution divides the bucket width, so
            # flooring it first gives the same bucket
            f"ts - ts % {cfg.bucket_duration} AS bucket_ts",
        )
        bad_tag = " OR ".join(f"{c} IS NULL OR {c} = ''" for c in cfg.tag_cols)
        obs = Observation()
        out = out.observe(obs, *[F.expr(e) for e in (
            "count_if(ts IS NULL) AS null_ts",
            f"count_if(ts > {now}) AS future",  # dbase.go:129-132
            f"count_if({bad_tag}) AS bad_tag",  # dbase.go:138-142
            f"count_if(payload IS NULL OR length(payload) != {cfg.payload_size}) AS bad_payload",
            f"count_if(bucket_ts < {hot_min}) AS cold",  # dbucket.go:120-122
            "count(1) AS n",
        )])

        staging = os.path.join(self.path, f"_staging_batch_{batch}")
        # Layout: cluster each bucket's files by (tags, ts) so parquet
        # row-group min/max stats make tag-equality + ts-range reads
        # skippable — the stats-level analog of the reference's prefix-tree
        # descent (SURVEY §7.6). Local sort only, no extra shuffle. It leads
        # with bucket_ts, the partitioned writer's required ordering: a sort
        # without it is replaced by a bucket_ts-only sort, unclustered.
        (
            out.sortWithinPartitions("bucket_ts", *cfg.tag_cols, "ts")
            .write.mode("overwrite")
            .partitionBy("bucket_ts")
            .parquet(staging)
        )
        counts = obs.get
        try:
            if counts["null_ts"]:
                raise ValidationError(f"{counts['null_ts']} rows with null ts")
            if counts["future"]:
                raise FutureTimestampError(
                    f"{counts['future']} rows with ts > now={now} (dbase.go:129-132)"
                )
            if counts["bad_tag"]:
                raise ValidationError(
                    f"{counts['bad_tag']} rows with null/empty tags (dbase.go:138-142)"
                )
            if counts["bad_payload"]:
                raise ValidationError(
                    f"{counts['bad_payload']} rows with payload size != {cfg.payload_size} (dbase.go:144-146)"
                )
            if counts["cold"]:
                raise ColdWriteError(
                    f"{counts['cold']} rows route to read-only buckets older than {hot_min} "
                    "(dbucket.go:120-122)"
                )
            self._commit_staging(staging, batch)
            self._invalidate_hot_cache()  # file set changed under the pin
        finally:
            if os.path.exists(staging):
                shutil.rmtree(staging)
        return int(counts["n"] or 0)

    def _tuples_df(self, rows: Iterable[tuple]) -> DataFrame:
        """Tuple rows as a DataFrame over one Arrow table (see put_batch)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        cfg = self.config
        base = T.StructType(
            [T.StructField("ts", T.LongType(), True)]
            + [T.StructField(c, T.StringType(), True) for c in cfg.tag_cols]
            + [T.StructField("payload", T.BinaryType(), True)]
        )
        rows = list(rows)
        if any(len(r) != len(base) for r in rows):
            raise ValidationError(
                f"rows must be (ts, {', '.join(cfg.tag_cols)}, payload) tuples "
                "(tag arity is fixed, dbase.go:134-136)"
            )
        cols = list(zip(*rows)) or [()] * len(base)
        # Arrow would take a str payload as its UTF-8 bytes; the reference
        # takes only []byte (dbase.go:144-146)
        if not all(isinstance(p, (bytes, bytearray)) for p in cols[-1]):
            raise ValidationError("payloads must be bytes (dbase.go:144-146)")
        arrow = to_arrow_schema(base)
        try:
            table = pa.Table.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
            )
        except (pa.ArrowInvalid, pa.ArrowTypeError) as e:
            raise ValidationError(f"row values do not fit {base.simpleString()}: {e}") from e
        return self.spark.createDataFrame(table, base)

    def _manifest_path(self, batch: int | str) -> str:
        return os.path.join(self.path, f"_batch_{batch}.manifest.json")

    def _commit_staging(self, staging: str, batch: int) -> None:
        """Crash-safe all-or-nothing publish of a validated staging write —
        the local-FS analog of the reference's append-log commit-and-replay
        (`mindex/mindex.go:187-240`: a record is visible iff fully logged;
        torn tails are truncated on open).

        Phase 1 (invisible): move each part file into its bucket partition
        under a leading-underscore name. Hadoop/Spark file indexes skip
        `_`/`.` files, so no reader can observe the batch while it is
        partially moved; a crash here leaves only hidden orphans, GC'd by
        :meth:`_recover` on next open — the batch never existed.

        Phase 2 (commit record): fsync + atomically ``os.replace`` a manifest
        listing every (bucket, hidden, final) rename. The manifest IS the
        commit point.

        Phase 3 (publish): unhide each file. A crash mid-unhide is repaired
        forward — :meth:`_replay_pending_manifests` (run on open and before
        every read) finishes the renames idempotently, so a reader sees the
        whole batch or none of it, never a prefix.

        On a cluster the same protocol runs against a transactional table
        format (Delta/Iceberg commit log); this is its single-writer local
        analog, serialized by the fcntl-locked batch counter.
        """
        moved: list[list[str]] = []  # [bucket entry, hidden name, final name]
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("bucket_ts="):
                continue
            dest = os.path.join(self.path, entry)
            os.makedirs(dest, exist_ok=True)
            src = os.path.join(staging, entry)
            for part in sorted(os.listdir(src)):
                if part.startswith(("part-", "part.")):
                    final = f"b{batch}-{part}"
                    os.replace(
                        os.path.join(src, part), os.path.join(dest, "_" + final)
                    )
                    moved.append([entry, "_" + final, final])
        self._publish(batch, moved)

    def _publish(
        self,
        batch: int | str,
        moved: list[list[str]],
        deletes: list[list[str]] | None = None,
    ) -> None:
        """Phases 2 and 3 of :meth:`_commit_staging`, shared with
        :meth:`compact`: fsync the manifest (the ``moved`` unhides, then the
        ``deletes``) to a tmp file, ``os.replace`` it into place — the commit
        point — and replay it."""
        manifest = self._manifest_path(batch)
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch": batch, "files": moved, "deletes": deletes or []}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, manifest)  # <-- commit point
        self._replay_manifest(manifest)

    def _replay_manifest(self, manifest: str) -> None:
        """Idempotently finish (or re-finish) a committed batch's renames,
        then its deletes (compaction swaps list the replaced files there).
        Unhide-before-delete: a crash mid-replay can at worst briefly
        double-count with the manifest still present, and the very next
        replay converges; delete-first could instead hide data behind a
        crash window."""
        with open(manifest) as fh:
            m = json.load(fh)
        for entry, hidden, final in m["files"]:
            hp = os.path.join(self.path, entry, hidden)
            if os.path.exists(hp):
                os.replace(hp, os.path.join(self.path, entry, final))
        for entry, name in m.get("deletes", []):
            p = os.path.join(self.path, entry, name)
            if os.path.exists(p):
                os.remove(p)
        os.remove(manifest)

    def _replay_pending_manifests(self) -> None:
        for e in sorted(os.listdir(self.path)):
            if e.startswith("_batch_") and e.endswith(".manifest.json"):
                self._replay_manifest(os.path.join(self.path, e))

    def _recover(self) -> None:
        """Store-open recovery (`mindex/mindex.go:187-240` analog): replay
        committed batches forward, then GC everything from batches that
        never reached their commit record — stale staging dirs, manifest
        tmps, and hidden part-file orphans. Runs under the single-writer
        assumption (same as the reference's per-database file lock)."""
        self._replay_pending_manifests()
        for e in os.listdir(self.path):
            p = os.path.join(self.path, e)
            if e.startswith(("_staging_batch_", "_compact_")) or e.endswith(".old"):
                shutil.rmtree(p, ignore_errors=True)
            elif e.endswith(".manifest.json.tmp"):
                os.remove(p)
            elif e.startswith("bucket_ts="):
                for part in os.listdir(p):
                    if part.startswith(("_b", "_c")):
                        os.remove(os.path.join(p, part))

    # ------------------------------------------------------------------- reads

    def _check_tags(self, tags: list[str]) -> None:
        if len(tags) != self.config.index_depth:
            raise ValidationError(
                f"tag arity {len(tags)} != index_depth {self.config.index_depth}"
            )

    def _invalidate_hot_cache(self) -> None:
        if self._hot_df is not None:
            try:
                self._hot_df.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
            self._hot_df = None
        self._hot_min = None

    def _hot_window_df(self, now: int, buckets: list[int]) -> DataFrame | None:
        """Pinned hot window — the cache tier the reference mmaps+mlocks
        (`dblock/dblock.go:283-293`; two-tier policy `dbase/dbase.go:83-114`).

        The last ``max_hot_buckets`` bucket partitions are persisted
        (memory, spilling to local disk) so the write-hot range — which
        serves most point reads in a live store — is re-read from executor
        memory instead of parquet. ``buckets`` is the store's current
        directory scan; only its hot buckets are listed and read, so the
        (lazy) rebuild runs no Spark job. Invalidated on
        ingest/retention/compact (file set changed) and rebuilt when the hot
        window slides. Returns None when no hot bucket holds data.
        """
        hot_min = self.config.hot_min_base(now)
        if self._hot_df is None or self._hot_min != hot_min:
            self._invalidate_hot_cache()
            hot = [b for b in buckets if b >= hot_min]
            if not hot:
                return None
            from pyspark import StorageLevel

            self._hot_df = self._read(hot).persist(StorageLevel.MEMORY_AND_DISK)
            self._hot_min = hot_min
        return self._hot_df

    def _pruned(
        self, start: int, end: int, now: int, *, include_end_bucket: bool = False
    ) -> tuple[DataFrame, int]:
        """Rows of buckets overlapping [start, end) — the bucket loop
        (`dbase/dbase.go:177-188`) over the bucket dirs that hold data,
        served from the pinned hot tier where the range overlaps it. A tier
        with no bucket in range is left out of the plan, not unioned empty.
        Also returns the bytes of those buckets' visible part files.

        ``include_end_bucket`` mirrors the reference's ``find`` loop bound
        ``t <= end - end%BucketDuration`` (`dbase/dbase.go:247,256`): when
        ``end`` falls exactly on a bucket boundary the bucket *starting at*
        ``end`` is still consulted for series presence (its data rows are
        excluded by the caller's ``ts < end`` filter).
        """
        cfg = self.config
        b0 = cfg.floor_to_bucket(start)
        b1 = cfg.floor_to_bucket(end) if include_end_bucket else cfg.floor_to_bucket(
            max(start, end - 1)
        )
        # finish any committed-but-unpublished batch first, so a reader never
        # observes a torn batch after a mid-publish crash (see _commit_staging)
        self._replay_pending_manifests()
        buckets = self._buckets()
        in_range = [b for b in buckets if b0 <= b <= b1]
        n_bytes = sum(
            e.stat().st_size
            for b in in_range
            for e in os.scandir(self._bucket_dir(b))
            if not e.name.startswith(("_", "."))
        )
        hot_min = cfg.hot_min_base(now)
        hot = None
        if in_range and in_range[-1] >= hot_min:
            hot = self._hot_window_df(now, buckets)
        if hot is None:
            return self._read(in_range), n_bytes
        # cold tier from parquet, hot tier from the pinned cache; the two
        # partition sets are disjoint by construction
        hot = hot.filter(f"bucket_ts BETWEEN {b0} AND {b1}")
        cold = [b for b in in_range if b < hot_min]
        return (self._read(cold).unionByName(hot) if cold else hot), n_bytes

    @staticmethod
    def _lww(df: DataFrame, *keys: str) -> DataFrame:
        """Last-write-wins visibility per ``keys`` (`dblock/dblock.go:198-205`),
        in ``keys`` order: the (series, slot) in ``find``, the slot in ``get``.

        Rank = (batch seq, intra-batch row seq): later ``put_batch`` beats
        earlier; within a batch the later row (partition-major order) wins,
        matching the reference's sequential ``Put`` loop. ``df[k]`` is one
        py4j call; a name string costs a dozen.
        """
        out = df.groupBy(*(df[k] for k in keys)).agg(
            F.expr("max_by(payload, struct(ingest_seq, row_seq)) AS payload")
        )
        return out.orderBy(*(out[k] for k in keys))

    def _sentinel(self) -> list[str]:
        """A gap-fill slot's zero payload, ranked below every real write."""
        zero = self.config.zero_payload.hex()
        return [f"X'{zero}' AS payload", "-1L AS ingest_seq", "-1L AS row_seq"]

    @staticmethod
    def _tag_pred(pairs: Iterable[tuple[str, str | None]], as_of: int | None) -> str:
        """One SQL string (one py4j call): ``tag = value`` per pair, and the
        ``as_of`` cut. A value goes in as ``CAST(X'<utf-8 hex>' AS STRING)``,
        so no quoting is involved; it folds to a literal and reaches the
        parquet scan as ``EqualTo(tag, value)``. A None value matches nothing.
        """
        conds = [
            "FALSE" if v is None else f"{c} = CAST(X'{v.encode().hex()}' AS STRING)"
            for c, v in pairs
        ]
        if as_of is not None:
            conds.append(f"ingest_seq <= {int(as_of)}")
        return " AND ".join(conds) or "TRUE"

    def get(
        self,
        start: int,
        end: int,
        tags: list[str],
        now: int,
        as_of: int | None = None,
    ) -> DataFrame:
        """Exact-series dense range read (O2, `dbase/dbase.go:161-231`).

        Returns DataFrame (ts LONG, payload BINARY) with exactly
        ``(end-start)/resolution`` rows after flooring, end-exclusive,
        zero-filled, in ``ts`` order. Never an error for absent
        series/buckets.

        Plan: the series' rows in range, unioned with one zero-payload
        sentinel per slot ranked ``(-1, -1)`` below every real write, then
        ONE ``groupBy(ts)`` + ``max_by`` that does last-write-wins and
        zero-fill together, then ``orderBy(ts)``. The union is coalesced to
        ``k = read_partitions(slots, bytes)`` partitions, where ``bytes`` is
        the visible part-file size of the in-range buckets. At ``k = 1`` one
        partition already satisfies both the aggregate and the sort, so no
        exchange is planned and the read runs as one job (two when it first
        pins the hot tier); at ``k > 1`` the planner adds the hash and range
        exchanges, so wide ranges and large buckets stay distributed.

        ``as_of``: snapshot read — only rows from batches with
        ``ingest_seq <= as_of`` are visible, so a later LWW overwrite is
        invisible at an earlier snapshot (see :meth:`current_seq`). Free at
        read time because every row carries its batch's ``ingest_seq`` and
        compaction preserves it; retention is NOT snapshot-protected
        (dropped buckets are physically gone, the vacuum trade).
        """
        cfg = self.config
        start = cfg.floor_to_resolution(start)  # dbase.go:163-164
        end = cfg.floor_to_resolution(end)
        # Range rule: end must not pass `now` — the rule Find uses
        # (dbase.go:239-241) and the one Get's OWN test pins
        # (dbase_test.go:268-276 expects Get(now-9, now+1) to error).
        # Get's source checks only `end - resolution > now` (dbase.go:166-170),
        # which would admit that call — a source/test inconsistency upstream;
        # we follow the asserted contract (the stricter rule).
        if end < start or start > now or end > now:
            raise RangeError(f"invalid range [{start},{end}) vs now={now} (dbase.go:166-170)")
        # A WILDCARD ("") or None tag in get() is not an error: the reference
        # descends to a nonexistent index node → all-zero result; the tag
        # predicate below matches nothing, producing the same dense zero grid.
        self._check_tags(tags)

        rows, n_bytes = self._pruned(start, end, now)
        pred = self._tag_pred(zip(cfg.tag_cols, tags), as_of)
        data = rows.filter(f"ts >= {start} AND ts < {end} AND {pred}").selectExpr(
            "ts", "payload", "ingest_seq", "row_seq"
        )
        slots = time_spine(self.spark, start, end, cfg.resolution).selectExpr(
            "ts", *self._sentinel()
        )
        k = read_partitions(self.spark, (end - start) // cfg.resolution, n_bytes)
        return self._lww(data.unionByName(slots).coalesce(k), "ts")

    def find(
        self,
        start: int,
        end: int,
        tags: list[str],
        now: int,
        as_of: int | None = None,
    ) -> DataFrame:
        """Wildcard multi-series dense read (O3, `dbase/dbase.go:233-321`).

        ``""`` (or None) in ``tags`` matches any value at that position
        (`mindex/mindex.go:133-142`). Returns (tag1..tagN, ts, payload),
        dense per returned series. Only series present in a scanned bucket
        appear (`dbase/dbase.go:256-262`) — presence means *any* point in an
        overlapping bucket, even outside the clamped range, because the
        reference consults the bucket's index, not the slot contents.

        Plan: the scanned rows (the bucket starting at ``end`` included),
        filtered by the fixed tags and ``as_of`` and coalesced to ``k``
        partitions as in :meth:`get`. Their distinct series go through
        ``dense_grid`` as zero sentinels, are unioned with the rows in
        ``[start, end)``, and ONE ``groupBy(tags, ts)`` + ``max_by`` does
        last-write-wins and zero-fill, then ``orderBy(tags, ts)``. At
        ``k = 1`` no exchange is planned: one job (three when it first pins
        the hot tier, which it scans twice).
        """
        cfg = self.config
        start = cfg.floor_to_resolution(start)
        end = cfg.floor_to_resolution(end)
        if end < start or start > now or end > now:
            raise RangeError(f"invalid range [{start},{end}) vs now={now} (dbase.go:238-241)")
        self._check_tags(tags)

        tag_cols = cfg.tag_cols
        pred = self._tag_pred(
            ((c, v) for c, v in zip(tag_cols, tags) if v not in (WILDCARD, None)), as_of
        )
        # Presence consults every bucket the reference's loop touches —
        # including the one whose base == end (dbase.go:247,256).
        scanned, n_bytes = self._pruned(start, end, now, include_end_bucket=True)
        k = read_partitions(self.spark, (end - start) // cfg.resolution, n_bytes)
        scanned = scanned.filter(pred).coalesce(k)
        data = scanned.filter(f"ts >= {start} AND ts < {end}").drop("bucket_ts")
        series = scanned.selectExpr(*tag_cols, *self._sentinel()).distinct()
        slots = dense_grid(series, start, end, cfg.resolution)
        return self._lww(data.unionByName(slots).coalesce(k), *tag_cols, "ts")

    # --------------------------------------------------------------- retention

    def remove_before(self, cutoff: int, now: int) -> int:
        """Drop whole buckets with base < cutoff (O4, `dbase/dbase.go:323-364`).

        Refuses if any hot bucket qualifies (`dbase/dbase.go:326-330`). This
        is the parquet-partition analog of Delta ``DELETE WHERE bucket_ts <
        cutoff`` — whole-partition drops, no row rewrites. Returns the number
        of buckets dropped.
        """
        hot_min = self.config.hot_min_base(now)
        if cutoff > hot_min:
            raise HotBucketRemoveError(
                f"cutoff {cutoff} would remove hot bucket(s) (oldest hot base {hot_min}, "
                "dbase.go:326-330)"
            )
        dropped = 0
        for entry in sorted(os.listdir(self.path)):
            if not entry.startswith("bucket_ts="):
                continue
            base = int(entry.split("=", 1)[1])
            if base < cutoff:
                shutil.rmtree(os.path.join(self.path, entry))
                dropped += 1
        if dropped:
            self._invalidate_hot_cache()
        return dropped

    def compact(
        self, bucket_ts: int, target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """Rewrite one bucket partition into ~target-sized files.

        Each ``put_batch`` appends files, so long-lived buckets accrue one
        small file per batch — the classic small-files problem. Compaction
        rewrites the partition (preserving ``ingest_seq``/``row_seq``, so
        LWW visibility is unchanged) and swaps it in. The output file count
        is sized from the bucket's actual bytes (never ``coalesce(1)``: at
        100 TB a single bucket exceeds one task/file), and
        ``repartitionByRange(tags, ts)`` both balances the output files and
        re-clusters rows so parquet row-group stats keep tag/ts reads
        skippable — the same layout the ingest path writes. The reference
        has no analog (mmap segments are preallocated); on a table format
        this is OPTIMIZE / rewriteDataFiles. Returns the number of files
        before compaction.
        """
        part_dir = self._bucket_dir(bucket_ts)
        if not os.path.isdir(part_dir):
            return 0
        vis = [f for f in os.listdir(part_dir) if not f.startswith(("_", "."))]
        n_files = len(vis)
        if n_files <= 1:
            return n_files
        total = sum(os.path.getsize(os.path.join(part_dir, f)) for f in vis)
        n_out = max(1, -(-total // target_file_bytes))
        # known schema (no inference job); the file index skips _/. names
        rows = self.spark.read.schema(self.file_schema).parquet(part_dir)
        staging = os.path.join(self.path, f"_compact_{bucket_ts}")
        (
            rows.repartitionByRange(n_out, *self.config.tag_cols, "ts")
            .sortWithinPartitions(*self.config.tag_cols, "ts")
            .write.mode("overwrite")
            .parquet(staging)
        )
        # Publish with the same hidden+manifest protocol as put_batch — the
        # manifest additionally lists the replaced files as deletes, so the
        # swap is one atomic commit record instead of a directory rename
        # (whose crash window could lose the whole bucket). Crash before the
        # manifest: hidden orphans GC'd on open, old files untouched. Crash
        # after: replay (on open / before every read) finishes the swap.
        entry = f"bucket_ts={bucket_ts}"
        tag = f"c{self._next_batch_seq()}"
        moved: list[list[str]] = []
        try:
            for part in sorted(os.listdir(staging)):
                if part.startswith(("part-", "part.")):
                    final = f"{tag}-{part}"
                    os.replace(
                        os.path.join(staging, part),
                        os.path.join(part_dir, "_" + final),
                    )
                    moved.append([entry, "_" + final, final])
            self._publish(tag, moved, [[entry, f] for f in vis])
            self._invalidate_hot_cache()
        finally:
            if os.path.exists(staging):
                shutil.rmtree(staging)
        return n_files

    def close(self) -> None:
        """O5 — release the pinned hot tier; parquet commits are already
        durable per batch (`dbase/dbase.go:436-451` closes mmaps; the cache
        is our only held resource)."""
        self._invalidate_hot_cache()
