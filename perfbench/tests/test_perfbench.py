"""Tests of the benchmark's own logic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import math
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

import pytest  # noqa: E402

from perfbench import common, operators, repeat, store_workloads  # noqa: E402
from perfbench.model import StoreModel, diff  # noqa: E402

M, H = 60, 3600  # toy units: 60 s slots, 1 h buckets


# ------------------------------------------------------------ percentiles


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 90) == 90
    assert common.percentile(xs, 100) == 100
    assert common.percentile([7.0], 90) == 7.0
    assert common.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        common.percentile([], 50)


def test_spread_matches_statistics_quantiles():
    med, q1, q3, rel = common.spread([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
    assert med == 14.5
    assert (q1, q3) == (11.75, 17.25)
    assert rel == pytest.approx(5.5 / 14.5)


# ---------------------------------------------------------------- LWW model


def _model():
    m = StoreModel(bucket=H, resolution=M, payload_size=2)
    m.get = lambda *a: m.dense(*a)[0]
    m.find = lambda *a: m.find_dense(*a)[0]
    return m


def test_model_last_write_wins_within_and_across_batches():
    m = _model()
    m.put([(0, "a", "x", b"\x01\x01"), (30, "a", "x", b"\x02\x02")])  # same slot: later row wins
    assert m.get(0, 2 * M, ["a", "x"]) == [(0, b"\x02\x02"), (60, b"\x00\x00")]
    m.put([(59, "a", "x", b"\x03\x03")])  # a later batch wins
    assert m.get(0, M, ["a", "x"]) == [(0, b"\x03\x03")]


def test_model_get_is_dense_end_exclusive_and_zero_filled():
    m = _model()
    m.put([(2 * M, "a", "x", b"\x05\x05")])
    rows, filled = m.dense(M + 7, 4 * M + 7, ["a", "x"])  # floors to [60, 240)
    assert [ts for ts, _ in rows] == [M, 2 * M, 3 * M]
    assert filled == 2
    assert m.get(0, 3 * M, ["b", "x"]) == [(0, b"\0\0"), (M, b"\0\0"), (2 * M, b"\0\0")]
    assert m.get(5 * M, 5 * M, ["a", "x"]) == []


def test_model_find_series_presence_and_end_bucket():
    m = _model()
    m.put([(10, "a", "x", b"\x01\x01"), (H + 10, "b", "x", b"\x02\x02"), (10, "a", "y", b"\x03\x03")])
    # end on a bucket boundary still consults the bucket starting at end
    assert m.series(0, H, ["", "x"]) == {("a", "x"), ("b", "x")}
    assert m.series(0, H - M, ["", "x"]) == {("a", "x")}
    assert m.series(0, H, ["a", ""]) == {("a", "x"), ("a", "y")}
    rows = m.find(H - M, H, ["", "x"])  # each present series, dense over the range
    assert rows == [("a", "x", H - M, b"\0\0"), ("b", "x", H - M, b"\0\0")]
    assert m.find(0, M, ["a", ""]) == [("a", "x", 0, b"\x01\x01"), ("a", "y", 0, b"\x03\x03")]


def test_model_remove_before_drops_whole_buckets():
    m = _model()
    m.put([(10, "a", "x", b"\x01\x01"), (H + 10, "a", "x", b"\x02\x02")])
    assert m.remove_before(H) == 1
    assert m.get(0, M, ["a", "x"]) == [(0, b"\0\0")]
    assert m.series(0, 2 * H, ["", ""]) == {("a", "x")}


def test_diff_reports_first_mismatch():
    assert diff([(1, b"a")], [(1, b"a")]) is None
    assert "rows" in diff([(1, b"a")], [])
    assert "row 0" in diff([(1, b"a")], [(1, b"b")])


# ----------------------------------------------------------------- spans


def _span(sid, parent, start, end, name="s", layer="l"):
    return common.Span(sid, name, layer, 1, parent, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps sibling: union is [1, 5]
        _span(3, 0, 8.0, 12.0),  # runs past the parent: clipped to [8, 10]
        _span(4, 1, 1.5, 2.0),  # grandchild counts against its own parent only
    ]
    st = common.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_tracer_disabled_records_nothing():
    tr = common.Tracer(False)
    with tr.span("x", "store") as sp:
        assert sp is None
    assert tr.spans == []


def test_tracer_nesting_shares_op_id():
    tr = common.Tracer(True)
    with tr.span("verb", "store"):
        with tr.span("verb.build", "store"):
            pass
    with tr.span("next", "store"):
        pass
    a, b, c = tr.spans
    assert b.parent == a.sid and a.op == b.op and c.op != a.op
    assert a.start <= b.start <= b.end <= a.end


def test_attach_spark_work_by_job_group_then_time():
    spans = [_span(0, None, 100.0, 110.0, "key"), _span(1, 0, 101.0, 105.0, "key.build")]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 102_000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 103_000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "stream-run-id"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 40},
                {"Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 7},
                {"Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 3}]}},
    ]
    common.attach_spark_work(spans, events)
    assert spans[0].attrs["jobs"] == 1  # by its group id
    assert spans[1].attrs == {"jobs": 1, "stages": 1, "tasks": 4,
                              "executor_run_ms": 40, "shuffle_read_bytes": 10}
    r = common.rollup(spans, lambda s: s.parent is None)
    assert r["n"] == 1 and r["jobs"] == 2 and r["tasks"] == 4


# -------------------------------------------------------- failed-key exclusion


def _ex(key, s, ok=True, pass_=0):
    return {"key": key, "s": s, "ok": ok, "pass": pass_}


def test_time_sums_exclude_failed_keys(monkeypatch):
    a, b, st = "key_a", "key_b", "stream_k"
    monkeypatch.setattr(operators, "FAMILIES", {
        "analytics": [a, b], "llm": ["key_l"], "streaming": [st]})
    execs = [
        _ex(a, 3.0), _ex(b, 5.0), _ex(st, 4.0),
        _ex(a, 1.0), _ex(b, 0.0, ok=False), _ex(st, 2.0),
        _ex(a, 2.0), _ex(st, 3.0),
    ]
    sums = operators.time_sums(execs)
    assert sums["analytics_cold_s"] == 3.0  # b failed once: out of every sum
    assert sums["analytics_warm_s"] == 1.5  # median of a's warm repeats
    assert sums["streaming_cold_s"] == 4.0
    assert sums["stream_s"] == 3.0  # median of all of st's drains
    assert sums["llm_cold_s"] == 0.0


def test_warm_pass_seconds_sum_each_warm_pass_without_failed_keys():
    execs = [_ex("a", 3.0), _ex("b", 5.0), _ex("c", 4.0),
             _ex("a", 1.0, pass_=1), _ex("b", 0.0, ok=False, pass_=1), _ex("c", 2.0, pass_=1),
             _ex("a", 1.5, pass_=2), _ex("b", 9.0, pass_=2), _ex("c", 2.5, pass_=2)]
    assert operators.warm_pass_seconds(execs) == [3.0, 4.0]


def test_oracle_compare_is_bit_exact_and_order_free():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 0.1::DOUBLE), (2, 0.2::DOUBLE)) t(k, v)"
    assert operators.oracle_diff(con, sql, ["v", "k"], [(0.2, 2), (0.1, 1)]) is None
    bad = operators.oracle_diff(con, sql, ["k", "v"], [(1, 0.1), (2, math.nextafter(0.2, 1.0))])
    assert bad is not None
    assert "rows" in operators.oracle_diff(con, sql, ["k", "v"], [(1, 0.1)])


# ------------------------------------------------------------ store op ranges


def test_read_ops_stay_inside_the_retained_range_and_before_now():
    sw = store_workloads
    rng = random.Random(7)
    now = (sw.RETAIN - 1) * sw.H + 40 * sw.M
    for _ in range(24):  # twelve buckets of steps, as Live.step moves the clock
        now += sw.STEP
        base = now - now % sw.H
        lo, hot_min = max(0, base - (sw.RETAIN - 1) * sw.H), base - sw.H
        for kind in sw.STEP_READS * 20:
            verb, start, end, tags = sw.read_op(rng, kind, now, hot_min, lo)
            assert lo <= start <= end <= now, (kind, start, end, now)
            assert start % sw.M == 0 and end % sw.M == 0
            if kind in ("get_cold", "get_wide"):
                assert start < hot_min
            if kind == "get_hot":
                assert start >= hot_min
            assert verb == kind.split("_")[0] and len(tags) == 2


# ------------------------------------------------------------ hot-tier rebuilds


class _FakeSc:
    """Just enough of a SparkContext for ``persisted_rdds``."""

    def __init__(self):
        self.ids = {1}
        self._jsc = self

    def getPersistentRDDs(self):
        return self

    def keySet(self):
        return set(self.ids)


def test_hot_cache_rebuilds_counts_every_rdd_seen_after_a_timed_verb():
    tr = common.Tracer(True)
    tr.sc = _FakeSc()
    run = store_workloads.StoreRun(tr, StoreModel(H, M, 2))
    run._record("get", 0.1, 0.1)  # untimed: not counted
    run.start_timed()
    for hot in (2, 3, 4):  # each put drops the hot RDD, the next get persists a new one
        tr.sc.ids = {1}
        run._record("put", 0.1, 0.0)
        tr.sc.ids = {1, hot}
        run._record("get", 0.1, 0.1)
    assert run.hot_cache_rebuilds() == 3  # only the last one is still persisted


# -------------------------------------------------------- set comparison


def test_compare_flags_worse_medians_and_a_host_of_another_speed():
    metrics = [{"name": "p50_ms", "better": "lower", "bound": 0.25},
               {"name": "ops_per_s", "better": "higher", "bound": 0.25}]

    def summary(p50, ops, calib):
        return {"w": {"p50_ms": {"median": p50}, "ops_per_s": {"median": ops},
                      "calib_ms": {"median": calib}}}

    ref = summary(100.0, 4.0, 25.0)
    assert repeat.compare(summary(120.0, 3.5, 26.0), ref, metrics) == []
    bad = repeat.compare(summary(130.0, 2.9, 25.0), ref, metrics)
    assert [b.split(":")[0] for b in bad] == ["w p50_ms", "w ops_per_s"]
    bad = repeat.compare(summary(100.0, 4.0, 40.0), ref, metrics)
    assert len(bad) == 1 and "host speed differs" in bad[0]
