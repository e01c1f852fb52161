"""``store``: the four verbs against one live TimeSeriesStore.

Virtual clock in nanoseconds: 1 h buckets, 1 min slots (60 per bucket),
two tags per series (8 hosts x 8 metrics = 64 series), 8-byte payloads.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import session
from perfbench.common import Tracer
from perfbench.model import StoreModel, diff

M = 60_000_000_000  # one minute (slot)
H = 60 * M  # one hour (bucket)
HOSTS = [f"h{i}" for i in range(8)]
METRICS = [f"m{i}" for i in range(8)]
SERIES = [(h, m) for h in HOSTS for m in METRICS]
PAYLOAD = 8


def _config(root: str, name: str, hot: int):
    from kdb_spark import StoreConfig

    return StoreConfig(
        database_name=name, data_path=os.path.join(root, "data"), index_depth=2,
        payload_size=PAYLOAD, bucket_duration=H, resolution=M, max_hot_buckets=hot,
    )


def preload_rows(rng: random.Random, n_buckets: int, per_series: int) -> list[tuple]:
    """~per_series points per series per bucket, with ~5% rewrites of an
    earlier slot later in the batch (last write wins)."""
    rows = []
    for b in range(n_buckets):
        for h, m in SERIES:
            for slot in rng.sample(range(60), per_series):
                rows.append((b * H + slot * M + rng.randrange(M), h, m, rng.randbytes(PAYLOAD)))
    for _ in range(len(rows) // 20):
        ts, h, m, _p = rows[rng.randrange(len(rows))]
        rows.append((ts, h, m, rng.randbytes(PAYLOAD)))
    return rows


def _rows_df(spark, rows):
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("ts", T.LongType(), False),
        T.StructField("tag1", T.StringType(), False),
        T.StructField("tag2", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ])
    pdf = pd.DataFrame(rows, columns=["ts", "tag1", "tag2", "payload"])
    # one partition keeps batch order = row order, the order LWW ranks by
    return spark.createDataFrame(pdf, schema).coalesce(1)


class StoreRun:
    """Times verb calls, keeps their results for the model check, and (when
    traced) wraps each in spans: verb -> build (DataFrame returned) -> exec."""

    def __init__(self, tracer: Tracer, model: StoreModel):
        self.tr = tracer
        self.model = model
        self.lat: dict[str, list[float]] = {}  # verb -> latencies (s)
        self.parts: dict[str, list[tuple[float, float]]] = {}  # verb -> (build, exec)
        self.dense_rows = 0
        self.dense_filled = 0
        self.errors: list[str] = []
        self.timed = False
        self.rdds0: set[int] = set()  # persisted RDDs when the timed phase began
        self.rdds_seen: set[int] = set()  # every one seen after a timed verb

    def start_timed(self) -> None:
        self.timed = True
        if self.tr.enabled:
            self.rdds0 = persisted_rdds(self.tr.sc)

    def hot_cache_rebuilds(self) -> int:
        """RDDs persisted during the timed phase. A put or remove_before
        unpersists the hot tier and the next hot read persists a new one, so
        a snapshot after every verb sees each rebuild, even one that a later
        verb dropped again."""
        return len(self.rdds_seen - self.rdds0)

    def busy(self) -> float:
        """Summed latency of the timed calls."""
        return sum(sum(v) for v in self.lat.values())

    def _record(self, verb: str, build: float, exe: float) -> None:
        if self.timed:
            self.lat.setdefault(verb, []).append(build + exe)
            self.parts.setdefault(verb, []).append((build, exe))
            if self.tr.enabled:  # untimed: the call has already returned
                self.rdds_seen |= persisted_rdds(self.tr.sc)

    def read(self, verb: str, start: int, end: int, tags: list[str], *, store, now: int) -> None:
        with self.tr.span(f"store.{verb}", "store"):
            t0 = time.perf_counter()
            with self.tr.span(f"store.{verb}.build", "store"):
                df = getattr(store, verb)(start, end, tags, now)
            t1 = time.perf_counter()
            with self.tr.span(f"store.{verb}.exec", "action"):
                got = df.collect()
            t2 = time.perf_counter()
        self._record(verb, t1 - t0, t2 - t1)
        # untimed: compare with the model
        got = [tuple(bytes(v) if isinstance(v, bytearray) else v for v in r) for r in got]
        dense = self.model.dense if verb == "get" else self.model.find_dense
        want, filled = dense(start, end, tags)
        bad = diff(want, got)
        if bad:
            self.errors.append(f"{verb}({start},{end},{tags},now={now}): {bad}")
        if self.timed:
            self.dense_rows += len(want)
            self.dense_filled += filled

    def verify(self, verb: str, start: int, end: int, tags: list[str], *, store, now: int) -> None:
        """A read compared with the model, left out of the timed figures."""
        timed, self.timed = self.timed, False
        with self.tr.span("check", "check"):
            self.read(verb, start, end, tags, store=store, now=now)
        self.timed = timed

    def put(self, store, rows: list[tuple], now: int) -> None:
        with self.tr.span("store.put", "store", rows=len(rows)):
            t0 = time.perf_counter()
            n = store.put_batch(rows, now=now)
            t1 = time.perf_counter()
        self._record("put", t1 - t0, 0.0)
        self.model.put(rows)
        if n != len(rows):
            self.errors.append(f"put_batch wrote {n} rows, expected {len(rows)}")

    def bucket_op(self, verb: str, fn, expect) -> None:
        with self.tr.span(f"store.{verb}", "store"):
            t0 = time.perf_counter()
            out = fn()
            t1 = time.perf_counter()
        self._record(verb, t1 - t0, 0.0)
        if expect is not None and out != expect:
            self.errors.append(f"{verb} returned {out}, expected {expect}")


def _visible_files(bucket_dir: str) -> int:
    """Part files a reader sees (Spark skips ``_``/``.`` names)."""
    if not os.path.isdir(bucket_dir):
        return 0
    return sum(1 for f in os.listdir(bucket_dir) if not f.startswith(("_", ".")))


def files_per_bucket(store_path: str) -> float:
    counts = [_visible_files(os.path.join(store_path, e))
              for e in os.listdir(store_path) if e.startswith("bucket_ts=")]
    return sum(counts) / len(counts) if counts else 0.0


def persisted_rdds(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


# ----------------------------------------------------------------- the workload

RETAIN = 10  # buckets kept by remove_before: 2 hot, 8 cold
STEP = 30 * M  # virtual time between puts: two steps per bucket
WARMUP_STEPS = 2  # untimed, after set-up: the JIT needs tens of verb calls
# the reads of every step, in this order, right after its put
STEP_READS = ["get_hot", "get_cold", "find_narrow", "get_hot", "get_wide", "find_wide"]


def preload(spark, tr: Tracer, root: str, rep: int, rows, now: int, layers: dict):
    """Bulk load: one put_batch through a config whose hot window covers every
    bucket, then reopen the store with the serving config (two hot buckets)."""
    from kdb_spark import TimeSeriesStore

    t0 = time.perf_counter()
    with tr.span("store.preload", "store"):
        bulk = TimeSeriesStore(spark, _config(root, f"db{rep}", RETAIN + 1))
        bulk.put_batch(_rows_df(spark, rows), now=now)
        store = TimeSeriesStore(spark, _config(root, f"db{rep}", 2))
    layers.setdefault("store.preload_s", []).append(time.perf_counter() - t0)
    return store


def read_op(rng: random.Random, kind: str, now: int, hot_min: int, lo: int):
    """(verb, start, end, tags) for one read of the step mix. ``hot_min`` is
    the oldest hot bucket, ``lo`` the oldest retained one."""
    h, m = rng.choice(SERIES)
    n_cold = (hot_min - lo) // H
    if kind == "get_hot":  # the two hot buckets, up to now
        s = hot_min + rng.randrange((now - hot_min) // M) * M
        return "get", s, min(s + rng.randrange(10, 61) * M, now - now % M), [h, m]
    if kind == "get_cold":  # from a cold bucket, 30-60 min
        s = lo + rng.randrange(n_cold) * H + rng.randrange(30) * M
        return "get", s, min(s + rng.randrange(30, 61) * M, now - now % M), [h, m]
    if kind == "get_wide":  # 3-6 cold buckets
        w = rng.randrange(3, 7)
        b = lo + rng.randrange(n_cold - w + 1) * H
        return "get", b, b + w * H, [h, m]
    tags = [h, ""] if rng.random() < 0.5 else ["", m]
    if kind == "find_narrow":  # 30 min anywhere in the retained range
        s = lo + rng.randrange((now - lo) // M - 30) * M
        return "find", s, s + 30 * M, tags
    w = rng.randrange(2, 5)  # find_wide: 2-4 buckets, ending before the current one
    b = lo + rng.randrange((now - lo) // H - w + 1) * H
    return "find", b + 15 * M, b + w * H, tags


def live_batch(rng: random.Random, now: int, recent: list[tuple]) -> list[tuple]:
    """Rewrites of 8 rows written earlier into the hot buckets, first in the
    batch (so a later batch must win whatever the in-batch row order), then
    one point per series in (now-STEP, now], then a repeat of one of those
    (the later row in a batch wins)."""
    rows = [(ts, h, m, rng.randbytes(PAYLOAD)) for ts, h, m, _ in rng.sample(recent, 8)]
    fresh = [(now - rng.randrange(STEP), h, m, rng.randbytes(PAYLOAD)) for h, m in SERIES]
    ts, h, m, _ = rng.choice(fresh)
    return rows + fresh + [(ts, h, m, rng.randbytes(PAYLOAD))]


class Live:
    """One live store on the virtual clock. A step advances ``now`` by STEP;
    on a bucket rollover it first drops buckets past retention and compacts
    the bucket that just went cold, and reads both back untimed; then it puts
    a batch into the hot buckets and runs the reads of STEP_READS."""

    def __init__(self, run: StoreRun, store, now: int, rng: random.Random, rows: list[tuple]):
        self.run, self.store, self.now, self.rng = run, store, now, rng
        self.recent = rows  # rows written so far; rewrites pick from the hot ones
        self.files: list[float] = []
        self.compact_in: list[int] = []

    def rolls_next(self) -> bool:
        cfg = self.store.config
        return cfg.floor_to_bucket(self.now + STEP) != cfg.floor_to_bucket(self.now)

    def step(self) -> None:
        run, store, rng, cfg = self.run, self.store, self.rng, self.store.config
        roll = self.rolls_next()
        now = self.now = self.now + STEP
        lo = max(0, cfg.floor_to_bucket(now) - (RETAIN - 1) * H)
        if roll:
            expect = run.model.remove_before(lo)
            run.bucket_op("remove_before", lambda: store.remove_before(lo, now), expect)
            cold = cfg.hot_min_base(now) - H
            cold_dir = os.path.join(store.path, f"bucket_ts={cold}")
            n_in = _visible_files(cold_dir)
            self.compact_in.append(n_in)
            run.bucket_op("compact", lambda: store.compact(cold), n_in)
            if n_in > 1 and _visible_files(cold_dir) != 1:  # a few KB: one output file
                run.errors.append(f"compact({cold}) left {_visible_files(cold_dir)} of {n_in} files")
            # read back all that compact rewrote (last write wins across the
            # part files it merged) and what remove_before dropped (zero-filled
            # before the cutoff)
            run.verify("find", cold, cold + H, ["", ""], store=store, now=now)
            h, m = SERIES[(cold // H) % len(SERIES)]
            run.verify("get", lo - 30 * M, lo + 30 * M, [h, m], store=store, now=now)
        hot_min = cfg.hot_min_base(now)
        self.recent = [r for r in self.recent if r[0] >= hot_min]
        batch = live_batch(rng, now, self.recent)
        run.put(store, batch, now)
        self.recent += batch
        self.files.append(files_per_bucket(store.path))
        for kind in STEP_READS:
            run.read(*read_op(rng, kind, now, hot_min, lo), store=store, now=now)


def run_store(spark_box, seed: int, seconds: float, tr: Tracer, root: str, layers: dict):
    """Set up (session and preload) SETUP_REPS times, warm up, then step the
    live store until ``seconds`` of verb time have passed."""
    now0 = (RETAIN - 1) * H + 40 * M  # the first warm-up step rolls over, and so does the first timed one
    rows = [r for r in preload_rows(random.Random(seed), RETAIN, per_series=20) if r[0] <= now0]
    box = {}

    def prepare(spark, rep):
        model = StoreModel(H, M, PAYLOAD)
        model.put(rows)
        store = preload(spark, tr, root, rep, rows, now0, layers)
        box["live"] = Live(StoreRun(tr, model), store, now0, random.Random(seed + 1), rows)

    setup_times = session.setup_reps(spark_box, tr, "perfbench-store", layers, prepare)
    live = box["live"]
    run = live.run
    with tr.span("warmup", "session"):
        t0 = time.perf_counter()
        for _ in range(WARMUP_STEPS):
            live.step()
        layers.setdefault("session.warmup_s", []).append(time.perf_counter() - t0)
    live.files.clear()
    live.compact_in.clear()

    run.start_timed()
    while run.busy() < seconds:  # whole steps; every other one starts with a rollover
        live.step()
    run.timed = False
    layers["store.hot_cache.rebuilds"] = [run.hot_cache_rebuilds()]
    layers["store.files_per_bucket"] = live.files
    layers["store.compact.files_in"] = live.compact_in
    return run, setup_times
