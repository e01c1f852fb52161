"""Golden-semantics tests ported from the reference test suite.

Canonical config (`dbase/dbase_test.go:28-36`): IndexDepth 4, PayloadSize 4,
BucketDuration 1000, Resolution 10; virtual clock pinned at 11999 → hot range
[10000, 12000), cold below 10000, future ≥ 12000
(`dbase/dbase_test.go:13-21`). See FIXTURES.md §A.
"""

import pytest

from kdb_spark import (
    ColdWriteError,
    FutureTimestampError,
    HotBucketRemoveError,
    RangeError,
    StoreConfig,
    TimeSeriesStore,
    ValidationError,
)

NOW = 11999
P0 = bytes(4)
PA = bytes([1, 2, 3, 4])
PB = bytes([5, 6, 7, 8])


@pytest.fixture()
def store(spark, tmp_path):
    cfg = StoreConfig(
        database_name="golden",
        data_path=str(tmp_path),
        index_depth=4,
        payload_size=4,
        bucket_duration=1000,
        resolution=10,
    )
    return TimeSeriesStore(spark, cfg)


def seeded(store):
    # cold epochs written while they were hot (virtual clock, dbase_test.go:44-57)
    store.put_batch([(3030, "a", "b", "c", "d", bytes([3, 0, 3, 0]))], now=3999)
    store.put_batch([(6060, "a", "b", "c", "d", bytes([6, 0, 6, 0]))], now=6999)
    store.put_batch(
        [
            (10990, "a", "b", "c", "d", PA),
            (11000, "a", "b", "c", "e", PB),
        ],
        now=NOW,
    )
    return store


def payloads(df):
    return [bytes(r["payload"]) for r in df.collect()]


# ---------------------------------------------------------------- get

def test_get_dense_end_exclusive(store):
    """`dbase/dbase_test.go:170-179`: exactly (end-start)/res slots."""
    seeded(store)
    out = store.get(10990, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PA, P0]


def test_get_zero_fill_between_points(store):
    seeded(store)
    out = store.get(10980, 11010, ["a", "b", "c", "e"], now=NOW)
    assert payloads(out) == [P0, P0, PB]


def test_get_absent_series_is_zeros_not_error(store):
    """`dbase/dbase.go:216-225`."""
    seeded(store)
    out = store.get(10990, 11010, ["x", "y", "z", "w"], now=NOW)
    assert payloads(out) == [P0, P0]


def test_get_spans_missing_buckets(store):
    """bucket 4000..9999 has no data → zeros (`dbase/dbase.go:208-225`)."""
    seeded(store)
    out = store.get(3020, 3050, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [P0, bytes([3, 0, 3, 0]), P0]


def test_get_floors_to_resolution(store):
    seeded(store)
    out = store.get(10993, 11013, ["a", "b", "c", "d"], now=NOW)
    # floors to [10990, 11010) → 2 slots
    assert payloads(out) == [PA, P0]


def test_get_validation(store):
    seeded(store)
    with pytest.raises(RangeError):
        store.get(11010, 10990, ["a", "b", "c", "d"], now=NOW)  # end < start
    with pytest.raises(RangeError):
        store.get(12500, 12600, ["a", "b", "c", "d"], now=NOW)  # start > now
    with pytest.raises(RangeError):
        store.get(11000, 13000, ["a", "b", "c", "d"], now=NOW)  # end-res > now
    with pytest.raises(RangeError):
        # `dbase_test.go:268-276`: Get(now-9, now+1) must error — end passes
        # now (the open slot is not readable); Get's source check would admit
        # this, its test does not; we follow the test.
        store.get(NOW - 9, NOW + 1, ["a", "b", "c", "d"], now=NOW)
    with pytest.raises(ValidationError):
        store.get(10990, 11010, ["a", "b", "c"], now=NOW)  # arity


# ---------------------------------------------------------------- put

def test_put_future_rejected(store):
    with pytest.raises(FutureTimestampError):
        store.put_batch([(12000, "a", "b", "c", "d", PA)], now=NOW)


def test_put_at_now_allowed(store):
    """ts floors to the open slot; only ts > now (post-floor) is future
    (`dbase/dbase.go:127-132` — floor happens before the future check)."""
    store.put_batch([(NOW, "a", "b", "c", "d", PA)], now=NOW)
    out = store.get(11980, 11990, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [P0]  # written slot [11990,12000) not readable yet


def test_put_cold_rejected(store):
    """ts 9999 at now 11999 → bucket 9000 is cold (`dbase_test.go:188-191`)."""
    with pytest.raises(ColdWriteError):
        store.put_batch([(9999, "a", "b", "c", "d", PA)], now=NOW)


def test_put_empty_tag_rejected(store):
    with pytest.raises(ValidationError):
        store.put_batch([(11000, "a", "", "c", "d", PA)], now=NOW)


def test_put_bad_payload_rejected(store):
    with pytest.raises(ValidationError):
        store.put_batch([(11000, "a", "b", "c", "d", bytes(3))], now=NOW)


def test_put_floors_ts(store):
    store.put_batch([(11004, "a", "b", "c", "d", PA)], now=NOW)
    out = store.get(11000, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PA]


def test_last_write_wins(store):
    """`dblock/dblock.go:198-205`: in-place overwrite per (series, slot)."""
    store.put_batch([(11000, "a", "b", "c", "d", PA)], now=NOW)
    store.put_batch([(11000, "a", "b", "c", "d", PB)], now=NOW)
    out = store.get(11000, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PB]


# ---------------------------------------------------------------- find

def test_find_wildcard_tail(store):
    """`dbase/dbase_test.go:304-341`: both series, zero-filled."""
    seeded(store)
    out = store.find(10990, 11010, ["a", "b", "c", ""], now=NOW)
    rows = out.collect()
    by_series = {}
    for r in rows:
        by_series.setdefault(tuple(r[t] for t in ("tag1", "tag2", "tag3", "tag4")), []).append(
            (r["ts"], bytes(r["payload"]))
        )
    assert set(by_series) == {("a", "b", "c", "d"), ("a", "b", "c", "e")}
    assert by_series[("a", "b", "c", "d")] == [(10990, PA), (11000, P0)]
    assert by_series[("a", "b", "c", "e")] == [(10990, P0), (11000, PB)]


def test_find_wildcard_middle(store):
    """`mindex/mindex_test.go:175-199`: [a,b,"",d] matches exactly 2 of 3."""
    store.put_batch(
        [
            (11000, "a", "b", "c", "d", PA),
            (11000, "a", "b", "c", "e", PB),
            (11000, "a", "b", "f", "d", PB),
        ],
        now=NOW,
    )
    out = store.find(11000, 11010, ["a", "b", "", "d"], now=NOW)
    series = {tuple(r[t] for t in ("tag1", "tag2", "tag3", "tag4")) for r in out.collect()}
    assert series == {("a", "b", "c", "d"), ("a", "b", "f", "d")}


def test_find_only_existing_series(store):
    """series with no point in any scanned bucket are absent
    (`dbase/dbase.go:256-262`)."""
    seeded(store)
    out = store.find(3000, 3050, ["a", "b", "c", ""], now=NOW)
    series = {tuple(r[t] for t in ("tag1", "tag2", "tag3", "tag4")) for r in out.collect()}
    assert series == {("a", "b", "c", "d")}  # only the cold-epoch writer


def test_find_boundary_bucket_presence(store):
    """When `end` is exactly a bucket base, the reference's find loop still
    consults that bucket (`t <= be`, `dbase/dbase.go:247,256`) and registers
    its series with all-zero payloads within the clamped range."""
    seeded(store)
    # end=11000 == base of the bucket holding ("a","b","c","e")'s only point;
    # its data row (ts=11000) is excluded by ts < end but the series appears.
    out = store.find(10980, 11000, ["a", "b", "c", ""], now=NOW)
    by_series = {}
    for r in out.collect():
        by_series.setdefault(
            tuple(r[t] for t in ("tag1", "tag2", "tag3", "tag4")), []
        ).append((r["ts"], bytes(r["payload"])))
    assert set(by_series) == {("a", "b", "c", "d"), ("a", "b", "c", "e")}
    assert by_series[("a", "b", "c", "e")] == [(10980, P0), (10990, P0)]
    assert by_series[("a", "b", "c", "d")] == [(10980, P0), (10990, PA)]


def test_intra_batch_last_write_wins_row_order(store):
    """Two same-(series, slot) writes in ONE batch: the later row wins,
    matching the reference's sequential Put loop (`dblock/dblock.go:198-205`).
    Rank = struct(ingest_seq, row_seq) — full 64-bit monotonic id, no modulo
    aliasing (partition-major == input row order)."""
    store.put_batch(
        [
            (11000, "a", "b", "c", "d", PA),
            (11000, "a", "b", "c", "d", PB),
        ],
        now=NOW,
    )
    out = store.get(11000, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PB]


def test_put_invalid_batch_writes_nothing(store):
    """All-or-nothing ingest: a batch with one bad row publishes zero rows
    (staging commit only after validation passes)."""
    with pytest.raises(ValidationError):
        store.put_batch(
            [
                (11000, "a", "b", "c", "d", PA),
                (11010, "a", "", "c", "d", PB),
            ],
            now=NOW,
        )
    out = store.get(11000, 11020, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [P0, P0]


def test_find_validation(store):
    seeded(store)
    with pytest.raises(RangeError):
        store.find(11000, 13000, ["a", "b", "c", ""], now=NOW)  # end > now


def test_compact_preserves_lww(store):
    """Compaction rewrites a bucket's files without changing visibility:
    the LWW winner and zero-fill are identical before and after."""
    store.put_batch([(11000, "a", "b", "c", "d", PA)], now=NOW)
    store.put_batch([(11000, "a", "b", "c", "d", PB)], now=NOW)
    store.put_batch([(11010, "a", "b", "c", "e", PA)], now=NOW)
    assert store.compact(11000) >= 2  # one file per batch before compaction
    out = store.get(11000, 11020, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PB, P0]
    out = store.get(11000, 11020, ["a", "b", "c", "e"], now=NOW)
    assert payloads(out) == [P0, PA]


# ---------------------------------------------------------------- retention

def test_remove_before_hot_refused(store):
    """`dbase/dbase_test.go:343-389`: 10001 > oldest hot base 10000 → error."""
    seeded(store)
    with pytest.raises(HotBucketRemoveError):
        store.remove_before(10001, now=NOW)


def test_remove_before_cold_then_zeros(store):
    seeded(store)
    assert store.remove_before(4000, now=NOW) == 1
    out = store.get(3030, 3040, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [P0]
    # untouched buckets still intact
    out = store.get(6060, 6070, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [bytes([6, 0, 6, 0])]


# ---------------------------------------------------------------- crash safety

def _crashing_replace(monkeypatch, fail_on_call: int):
    """Make kdb_spark.store's os.replace raise on its Nth call (1-based)."""
    import kdb_spark.store as storemod

    real = storemod.os.replace
    calls = {"n": 0}

    def boom(src, dst):
        calls["n"] += 1
        if calls["n"] == fail_on_call:
            raise OSError("injected crash")
        return real(src, dst)

    monkeypatch.setattr(storemod.os, "replace", boom)
    return calls


def test_crash_before_commit_record_leaves_batch_invisible(store, monkeypatch):
    """A crash during the hidden-move phase (before the manifest exists) must
    leave the batch completely invisible — not a torn prefix — and recovery
    on reopen GCs the orphans (`mindex/mindex.go:187-240`: un-logged tail
    never existed)."""
    store.put_batch([(11000, "a", "b", "c", "d", PA)], now=NOW)
    with pytest.raises(OSError, match="injected crash"):
        # batch spans two buckets -> >=2 hidden moves; fail the second
        _crashing_replace(monkeypatch, 2)
        store.put_batch(
            [(10990, "a", "b", "c", "d", PB), (11000, "a", "b", "c", "e", PB)],
            now=NOW,
        )
    monkeypatch.undo()
    # the crashed batch is invisible; the earlier batch is intact
    out = store.get(10990, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [P0, PA]
    out = store.get(10990, 11010, ["a", "b", "c", "e"], now=NOW)
    assert payloads(out) == [P0, P0]
    # reopen: recovery removes the hidden orphans
    reopened = TimeSeriesStore(store.spark, store.config)
    import os as _os

    for entry in _os.listdir(reopened.path):
        if entry.startswith("bucket_ts="):
            parts = _os.listdir(_os.path.join(reopened.path, entry))
            assert not any(p.startswith("_b") for p in parts), parts


def test_crash_after_commit_record_is_replayed_forward(store, monkeypatch):
    """A crash during the unhide phase (manifest already fsynced) must not
    tear the batch: the next read replays the manifest and sees ALL rows."""
    import kdb_spark.store as storemod

    with pytest.raises(OSError, match="injected crash"):
        # calls: 2 hidden moves, manifest publish (3), then unhides (4, 5);
        # fail the LAST unhide -> one file visible, one still hidden
        _crashing_replace(monkeypatch, 5)
        store.put_batch(
            [(10990, "a", "b", "c", "d", PA), (11000, "a", "b", "c", "e", PB)],
            now=NOW,
        )
    monkeypatch.undo()
    import os as _os

    assert any(
        e.endswith(".manifest.json") for e in _os.listdir(store.path)
    ), "commit record must survive the crash"
    # first read after the crash: forward replay -> the whole batch visible
    out = store.get(10990, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PA, P0]
    out = store.get(10990, 11010, ["a", "b", "c", "e"], now=NOW)
    assert payloads(out) == [P0, PB]
    assert not any(
        e.endswith(".manifest.json") for e in _os.listdir(store.path)
    )


# ---------------------------------------------------------------- hot cache

def test_hot_range_get_uses_pinned_cache(store):
    """SURVEY §7.6: the hot window (last max_hot_buckets partitions) is
    served from a persisted tier on repeated reads — the `persist()` analog
    of the reference's mmap+mlock hot buckets (`dblock/dblock.go:283-293`)
    — and the pin is dropped (plan reverts to a parquet scan) after
    retention invalidates it."""
    seeded(store)
    store.get(10980, 11000, ["a", "b", "c", "d"], now=NOW).collect()  # warm
    df = store.get(10980, 11000, ["a", "b", "c", "d"], now=NOW)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    # correctness through the cached tier
    assert payloads(df) == [P0, PA]
    # cold-only reads don't touch the hot tier's pin requirement
    out = store.get(3030, 3040, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [bytes([3, 0, 3, 0])]
    # retention invalidates the pin; next read rebuilds against the new file set
    store.remove_before(4000, now=NOW)
    assert store._hot_df is None
    out = store.get(10980, 11000, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [P0, PA]


def test_compact_crash_before_manifest_keeps_old_files(store, monkeypatch):
    """A crash while moving compacted files (before the commit record) must
    leave the bucket exactly as it was; reopen GCs the hidden orphans."""
    store.put_batch([(11000, "a", "b", "c", "d", PA)], now=NOW)
    store.put_batch([(11000, "a", "b", "c", "d", PB)], now=NOW)
    with pytest.raises(OSError, match="injected crash"):
        # compact: _next_batch_seq uses 1 os.replace (seq publish), then the
        # first hidden move is call 2 — fail there
        _crashing_replace(monkeypatch, 2)
        store.compact(11000)
    monkeypatch.undo()
    out = store.get(11000, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PB]  # LWW intact, nothing lost
    reopened = TimeSeriesStore(store.spark, store.config)
    import os as _os

    bucket = _os.path.join(reopened.path, "bucket_ts=11000")
    assert not any(p.startswith("_c") for p in _os.listdir(bucket))
    out = reopened.get(11000, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PB]


def test_compact_crash_after_manifest_converges_without_duplicates(
    store, monkeypatch
):
    """A crash mid-swap (manifest fsynced, unhide/delete unfinished) must
    converge on the next read: compacted data visible exactly once."""
    store.put_batch([(11000, "a", "b", "c", "d", PA)], now=NOW)
    store.put_batch([(11000, "a", "b", "c", "d", PB)], now=NOW)
    import os as _os

    bucket = _os.path.join(store.path, "bucket_ts=11000")
    n_old = len([f for f in _os.listdir(bucket) if not f.startswith(("_", "."))])
    assert n_old >= 2
    # calls: seq publish (1), hidden moves (2..k), manifest publish, then
    # replay renames — fail on the LAST replay rename/delete boundary by
    # failing the first post-manifest unhide
    with pytest.raises(OSError, match="injected crash"):
        _crashing_replace(monkeypatch, 4)
        store.compact(11000)
    monkeypatch.undo()
    assert any(
        e.endswith(".manifest.json") for e in _os.listdir(store.path)
    ), "commit record must survive"
    # next read replays: compacted bucket, no duplicate rows, LWW preserved
    out = store.get(11000, 11010, ["a", "b", "c", "d"], now=NOW)
    assert payloads(out) == [PB]
    files = [f for f in _os.listdir(bucket) if not f.startswith(("_", "."))]
    assert len(files) < n_old or all(f.startswith("c") for f in files)


# ----------------------------------------------------------- snapshot reads


def test_as_of_sees_pre_overwrite_value(store):
    """Time travel: an LWW overwrite in a later batch is invisible at the
    earlier snapshot; the current read sees the overwrite."""
    seeded(store)
    v1 = store.current_seq()
    store.put_batch([(10990, "a", "b", "c", "d", bytes([9, 9, 9, 9]))], now=NOW)
    assert store.current_seq() == v1 + 1
    assert payloads(store.get(10990, 11000, ["a", "b", "c", "d"], now=NOW)) == [
        bytes([9, 9, 9, 9])
    ]
    assert payloads(
        store.get(10990, 11000, ["a", "b", "c", "d"], now=NOW, as_of=v1)
    ) == [PA]


def test_as_of_before_series_existed_is_zero(store):
    """A snapshot taken before a series' first write reads dense zeros —
    and find() does not list the series at that snapshot."""
    seeded(store)
    v0 = store.current_seq()
    store.put_batch([(11200, "x", "y", "z", "w", PA)], now=NOW)
    assert payloads(
        store.get(11200, 11210, ["x", "y", "z", "w"], now=NOW, as_of=v0)
    ) == [P0]
    rows = store.find(11200, 11210, ["x", "", "", ""], now=NOW, as_of=v0).collect()
    assert rows == []


def test_as_of_survives_compaction(store):
    """Compaction preserves ingest_seq, so snapshots still resolve after a
    bucket rewrite."""
    seeded(store)
    v1 = store.current_seq()
    store.put_batch([(10990, "a", "b", "c", "d", bytes([7, 7, 7, 7]))], now=NOW)
    store.compact(10000)
    assert payloads(
        store.get(10990, 11000, ["a", "b", "c", "d"], now=NOW, as_of=v1)
    ) == [PA]
    assert payloads(store.get(10990, 11000, ["a", "b", "c", "d"], now=NOW)) == [
        bytes([7, 7, 7, 7])
    ]


def test_corrupt_data_file_fails_loudly(store):
    """The reference's corrupt-index contract (`mindex/mindex_test.go:84-107`):
    damaged storage must FAIL the read, never silently return partial data.
    Spark's default (ignoreCorruptFiles=false) is relied on — this pins it."""
    import glob
    import os

    import pytest as _pytest

    seeded(store)
    [part] = glob.glob(os.path.join(store.path, "bucket_ts=10000", "*.parquet"))
    with open(part, "wb") as fh:
        fh.write(b"not a parquet file")
    store._invalidate_hot_cache()
    with _pytest.raises(Exception, match="[Pp]arquet|footer|corrupt|magic"):
        store.get(10990, 11010, ["a", "b", "c", "d"], now=NOW).collect()


# ------------------------------------------------------------ fixed costs


def _jobs(spark, fn):
    """(Spark jobs launched while ``fn`` runs, its result). Counted by job
    group once the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize(
    "start,end", [(3000, 3050), (10980, 11010), (3000, 11010)],
    ids=["cold", "hot", "straddle"],
)
def test_building_a_read_runs_no_job(store, start, end):
    """Building a get/find DataFrame plans nothing eagerly: the read schema
    is the store's own (no inference job) and only the in-range bucket dirs
    are listed. The read follows a put, so the hot tier is rebuilt."""
    seeded(store)
    store.put_batch([(11010, "a", "b", "c", "d", PB)], now=NOW)
    n_get, got = _jobs(store.spark, lambda: store.get(start, end, ["a", "b", "c", "d"], now=NOW))
    n_find, found = _jobs(store.spark, lambda: store.find(start, end, ["a", "b", "c", ""], now=NOW))
    assert (n_get, n_find) == (0, 0)
    n_exec, rows = _jobs(store.spark, got.collect)
    assert n_exec > 0 and len(rows) == (end - start) // 10
    assert found.count() > 0


def test_tuple_put_is_one_job(store):
    """Tuple rows reach the JVM as one Arrow table: the parquet write is the
    batch's only job (validation rides on it as an observed metric)."""
    n, written = _jobs(
        store.spark,
        lambda: store.put_batch(
            [(10990, "a", "b", "c", "d", PA), (11000, "a", "b", "c", "e", PB)], now=NOW
        ),
    )
    assert (n, written) == (1, 2)


def test_reads_without_visible_data(store):
    """An empty store, and one whose bucket dirs hold only hidden orphans of
    an uncommitted batch: get is dense zeros, find is empty."""
    import os

    def check():
        assert payloads(store.get(10990, 11010, ["a", "b", "c", "d"], now=NOW)) == [P0, P0]
        assert store.find(3000, 11010, ["a", "", "", ""], now=NOW).collect() == []

    check()
    for base in (3000, 10000, 11000):
        d = os.path.join(store.path, f"bucket_ts={base}")
        os.makedirs(d)
        with open(os.path.join(d, f"_b7-part-{base}.parquet"), "wb") as fh:
            fh.write(b"not yet published")
    check()


@pytest.mark.parametrize(
    "bad",
    [(11000, "a", None, "c", "d", PA), (11000, "a", "b", "c", "d", "1234"),
     (11000, "a", "b", "c", PA), (None, "a", "b", "c", "d", PA)],
    ids=["none_tag", "str_payload", "short_row", "none_ts"],
)
def test_put_bad_tuple_is_typed_error_and_writes_nothing(store, bad):
    with pytest.raises(ValidationError):
        store.put_batch([(11000, "a", "b", "c", "e", PB), bad], now=NOW)
    assert store._buckets() == []
    assert payloads(store.get(11000, 11010, ["a", "b", "c", "e"], now=NOW)) == [P0]


def test_intra_batch_lww_across_arrow_batches(store):
    """A tuple batch longer than one Arrow record batch spans several
    partitions; the later row still wins (partition-major row_seq). The
    earlier row's payload is the larger one, so a max-by-payload would fail."""
    spark = store.spark
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = (
            [(11000, "a", "b", "c", "d", PB)]
            + [(11010 + 10 * i, "a", "b", "c", "e", PB) for i in range(3)]
            + [(11000, "a", "b", "c", "d", PA)]
        )
        assert store.put_batch(rows, now=NOW) == 5
    finally:
        spark.conf.set(key, old)
    assert payloads(store.get(11000, 11010, ["a", "b", "c", "d"], now=NOW)) == [PA]


def test_reopen_under_other_config_fails_loudly(store):
    """Reads take their schema from the config, so data written under
    another index_depth would read its missing tags as null (silent zeros).
    Opening the store compares a part file's footer and refuses instead."""
    import dataclasses

    seeded(store)
    with pytest.raises(ValidationError, match="written under"):
        TimeSeriesStore(store.spark, dataclasses.replace(store.config, index_depth=2))
    TimeSeriesStore(store.spark, store.config)  # the same config reopens


def test_reopen_accepts_int32_ingest_seq_files(store):
    """Files written before ingest_seq was pinned to a long hold it as
    int32; the reader widens it, so such a store still opens and reads."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    seeded(store)
    for part in glob.glob(os.path.join(store.path, "bucket_ts=*", "*.parquet")):
        t = pq.ParquetFile(part).read()
        i = t.schema.get_field_index("ingest_seq")
        pq.write_table(t.set_column(i, "ingest_seq", t.column(i).cast(pa.int32())), part)
    reopened = TimeSeriesStore(store.spark, store.config)
    assert payloads(reopened.get(10990, 11010, ["a", "b", "c", "d"], now=NOW)) == [PA, P0]
    assert payloads(reopened.get(3030, 3040, ["a", "b", "c", "d"], now=NOW)) == [bytes([3, 0, 3, 0])]


# ------------------------------------------------------------- one-job get


def test_narrow_get_is_one_job(store):
    """A get of at most 65,536 slots over small buckets is one partition:
    its last-write-wins aggregate and its sort need no exchange, so it runs
    one job over cold buckets and over the pinned hot tier, and at most two
    when it first pins the hot tier after a put."""
    seeded(store)

    def n_jobs(start, end):
        n, rows = _jobs(store.spark, store.get(start, end, ["a", "b", "c", "d"], now=NOW).collect)
        assert [r["ts"] for r in rows] == list(range(start, end, 10))
        return n

    assert n_jobs(10980, 11010) <= 2  # the put dropped the hot tier
    assert n_jobs(10980, 11010) == 1
    assert n_jobs(3000, 3100) == 1
    assert n_jobs(3000, 11010) == 1


def test_read_width_follows_slots_and_bytes(store):
    """One partition per 65,536 slots or per maxPartitionBytes of part
    files, whichever needs more, capped at the default parallelism. Under a
    small maxPartitionBytes a narrow get takes the distributed path and
    still reads the same rows."""
    from kdb_spark.densify import read_partitions

    spark = store.spark
    key = "spark.sql.files.maxPartitionBytes"
    per = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    cap = spark.sparkContext.defaultParallelism
    assert read_partitions(spark, 65_536, per) == 1
    assert read_partitions(spark, 65_537) == min(2, cap)
    assert read_partitions(spark, 10, per + 1) == min(2, cap) > 1
    assert read_partitions(spark, 10, 100 * per) == cap

    seeded(store)
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        n, rows = _jobs(spark, store.get(3020, 11010, ["a", "b", "c", "d"], now=NOW).collect)
    finally:
        spark.conf.set(key, old)
    assert n > 1
    want = {3030: bytes([3, 0, 3, 0]), 6060: bytes([6, 0, 6, 0]), 10990: PA}
    assert [(r["ts"], bytes(r["payload"])) for r in rows] == [
        (ts, want.get(ts, P0)) for ts in range(3020, 11010, 10)
    ]


def test_wide_get_matches_model(spark, tmp_path):
    """A get wider than 65,536 slots (resolution 1, ~310k slots over four
    buckets) is spread over several partitions; it still returns every slot
    in ts order with last-write-wins across and within batches, also as of
    an earlier batch. A get of exactly 65,536 slots is still one job."""
    cfg = StoreConfig(
        database_name="wide", data_path=str(tmp_path), index_depth=4,
        payload_size=4, bucket_duration=100_000, resolution=1,
    )
    st = TimeSeriesStore(spark, cfg)
    tags = ("a", "b", "c", "d")
    p = [bytes([i, i, i, i]) for i in range(1, 9)]
    batches = [  # (now, [(ts, payload)]) — each later write of a ts wins
        (99_999, [(10, p[0]), (50_000, p[1]), (99_999, p[2]), (50_000, p[3])]),
        (199_999, [(150_000, p[4]), (50_000, p[5])]),
        (299_999, [(250_000, p[6]), (150_000, p[7])]),
        (310_000, [(305_000, p[0]), (250_000, p[1])]),
    ]
    seqs = []
    for now, rows in batches:
        seqs.append(st.current_seq() + 1)
        st.put_batch([(ts, *tags, pl) for ts, pl in rows], now=now)

    def want(as_of):
        cur = {}
        for seq, (_, rows) in zip(seqs, batches):
            if seq <= as_of:
                cur.update(rows)
        return [(ts, cur.get(ts, bytes(4))) for ts in range(0, 310_000)]

    for as_of in (None, seqs[1]):
        n, rows = _jobs(spark, st.get(0, 310_000, list(tags), now=310_000, as_of=as_of).collect)
        assert n > 1
        assert [(r["ts"], bytes(r["payload"])) for r in rows] == want(
            seqs[-1] if as_of is None else as_of
        )
    n, rows = _jobs(spark, st.get(0, 65_536, list(tags), now=310_000).collect)
    assert (n, len(rows)) == (1, 65_536)
    st.close()


def test_tags_with_quotes_round_trip(store):
    """Tag values holding ' and \\ reach the read predicates as values, not
    SQL text: get and a wildcard find read them back."""
    odd = ["it's", "back\\slash", "c", "d'\\'"]
    store.put_batch([(11000, *odd, PA), (11000, "it's", "b", "c", "d", PB)], now=NOW)
    assert payloads(store.get(11000, 11020, odd, now=NOW)) == [PA, P0]
    found = store.find(11000, 11010, ["it's", "", "c", ""], now=NOW).collect()
    assert {(tuple(r[t] for t in store.config.tag_cols), bytes(r["payload"])) for r in found} == {
        (tuple(odd), PA), (("it's", "b", "c", "d"), PB),
    }


# ------------------------------------------------------------ one-job find


def test_narrow_find_is_one_job(store):
    """A find of at most 65,536 slots over small buckets is one partition:
    the distinct over series, the last-write-wins aggregate and the sort
    need no exchange, so it runs one job over cold buckets, over the pinned
    hot tier and over a range straddling the two. The first hot read after a
    put runs at most three: adaptive execution materializes each of its two
    scans of the not-yet-pinned tier (rows, and series for the grid) as a
    stage of its own before the read's one job."""
    seeded(store)

    def n_jobs(start, end, series):
        n, rows = _jobs(store.spark, store.find(start, end, ["a", "b", "c", ""], now=NOW).collect)
        assert [(r["tag4"], r["ts"]) for r in rows] == [
            (s, ts) for s in series for ts in range(start, end, 10)
        ]
        return n

    assert n_jobs(10980, 11010, "de") <= 3  # the put dropped the hot tier
    assert n_jobs(10980, 11010, "de") == 1
    assert n_jobs(3000, 3100, "d") == 1
    assert n_jobs(3000, 11010, "de") == 1


def test_narrow_find_under_small_max_partition_bytes(store):
    """Under a 1k maxPartitionBytes a narrow find takes the distributed
    path (exchanges, more than one job) and returns the same rows."""
    seeded(store)
    spark = store.spark
    key = "spark.sql.files.maxPartitionBytes"

    def read():
        return _jobs(spark, store.find(3020, 11010, ["a", "b", "c", ""], now=NOW).collect)

    _, want = read()
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        n, got = read()
    finally:
        spark.conf.set(key, old)
    assert n > 1 and len(want) == 2 * 799 and got == want


def test_wide_find_matches_model(spark, tmp_path):
    """A find wider than 65,536 slots (resolution 1, 70,000 slots) is spread
    over several partitions. With a wildcard in the middle position it
    returns every matching series present in a scanned bucket — one only in
    the bucket that starts at ``end``, so all zeros — dense, in (tags, ts)
    order, with last-write-wins across and within batches; as of an earlier
    batch, a series written later is absent and later overwrites are
    invisible."""
    cfg = StoreConfig(
        database_name="widefind", data_path=str(tmp_path), index_depth=3,
        payload_size=4, bucket_duration=35_000, resolution=1,
    )
    st = TimeSeriesStore(spark, cfg)
    p = [bytes([i, i, i, i]) for i in range(1, 9)]
    batches = [  # (now, [(ts, tags, payload)]) — each later write of a slot wins
        (34_999, [
            (10, "axc", p[0]), (30_000, "axc", p[1]), (30_000, "axc", p[2]),
            (0, "ayc", p[5]), (100, "bxc", p[1]),
        ]),
        (69_999, [(40_000, "axc", p[3]), (69_999, "ayc", p[6]), (50_000, "axe", p[0])]),
        (70_000, [(40_000, "axc", p[4]), (70_000, "azc", p[7])]),
    ]
    seqs = []
    for now, rows in batches:
        seqs.append(st.current_seq() + 1)
        st.put_batch([(ts, *tags, pl) for ts, tags, pl in rows], now=now)

    def want(as_of):
        cur: dict[str, dict[int, bytes]] = {}
        for seq, (_, rows) in zip(seqs, batches):
            for ts, tags, pl in rows:
                if seq <= as_of and tags[0] == "a" and tags[2] == "c":
                    cur.setdefault(tags, {})
                    if ts < 70_000:
                        cur[tags][ts] = pl
        return [
            (tuple(s), ts, cur[s].get(ts, bytes(4)))
            for s in sorted(cur) for ts in range(0, 70_000)
        ]

    for as_of in (None, seqs[1]):
        df = st.find(0, 70_000, ["a", "", "c"], now=70_000, as_of=as_of)
        n, rows = _jobs(spark, df.collect)
        assert n > 1
        got = [(tuple(r[t] for t in cfg.tag_cols), r["ts"], bytes(r["payload"])) for r in rows]
        expected = want(seqs[-1] if as_of is None else as_of)
        assert len({r[0] for r in expected}) == (3 if as_of is None else 2)
        assert got == expected
    st.close()


def test_none_tag_matches_nothing_in_get_and_anything_in_find(store):
    """A None or ``""`` tag in get matches no series (all-zero slots, like
    an absent series); in find None is a wildcard, like ``""``."""
    seeded(store)
    for t in (None, ""):
        assert payloads(store.get(10990, 11010, ["a", "b", t, "d"], now=NOW)) == [P0, P0]

    def rows(tags):
        return [tuple(r) for r in store.find(10990, 11010, tags, now=NOW).collect()]

    wild = rows(["a", "", "c", ""])
    assert len(wild) == 4 and rows(["a", None, "c", None]) == wild


def test_reads_push_tag_equalities_to_the_scan(store):
    """The parquet scan receives an ``EqualTo`` per fixed tag for get and
    find (row-group stats skipping is this store's tag-index descent), and a
    narrow find plans no exchange and no join."""
    seeded(store)
    spark = store.spark
    key = "spark.sql.maxMetadataStringLength"  # PushedFilters print in full
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        plans = {}
        for verb, tags in (("get", ["a", "b", "c", "d"]), ("find", ["a", "", "c", ""])):
            df = getattr(store, verb)(3000, 3100, tags, now=NOW)
            df.collect()
            plans[verb] = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    for verb, tags in (("get", "abcd"), ("find", "a_c_")):
        pushed = [
            line.split("PushedFilters: ", 1)[1]
            for line in plans[verb].splitlines() if "PushedFilters: " in line
        ]
        assert pushed, plans[verb]
        for i, v in enumerate(tags, 1):
            if v != "_":
                assert all(f"EqualTo(tag{i},{v})" in p for p in pushed), plans[verb]
    assert "Exchange" not in plans["find"] and "Join" not in plans["find"], plans["find"]
