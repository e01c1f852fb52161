"""``operators``: a fixed registry subset run cold once, then warm.

Keys come from ``__spark_entry__.queries()`` in ``registration_order()``;
each key's last result is checked against its ``oracle_sql()`` DuckDB query
over the same generated tables.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.common import Tracer
from tools.check_oracle import _norm_val, values_equal

# family -> keys; ROADMAP performance targets, trimmed to fit one run
FAMILIES = {
    "analytics": ["graph_triangle_count"],
    "llm": ["dedup_simhash"],
    "streaming": ["stream_ewma"],
}
# Attempted every run, outside the timed set, and named in the output: a key
# that fails today. Kept out of `failed` and the time sums so a fix reads as
# a fix, not as a slowdown of the family it joins.
KNOWN_FAILURES = ["stream_cross_dedup"]
# warm passes after the cold one, at least; more while the warm phase is
# shorter than --seconds. The warm-pass median is the workload's p50_ms. Two,
# not more: 48 runs of the two workloads must fit in the benchmark's hour,
# and a warm pass takes 7-8 s.
MIN_WARM_PASSES = 2


def family_of(key: str) -> str:
    for fam, keys in FAMILIES.items():
        if key in keys:
            return fam
    raise KeyError(key)


def time_sums(execs: list[dict]) -> dict[str, float]:
    """Per family: ``<F>_cold_s`` = sum of each key's first execution,
    ``<F>_warm_s`` = sum of each key's median warm repeat; ``stream_s`` =
    sum of each stream key's median over all its drains. Keys with any
    failed execution are left out of both sums (they are counted in
    ``failed`` instead), so a later fix does not read as a slowdown."""
    failed = {e["key"] for e in execs if not e["ok"]}
    by_key: dict[str, list[dict]] = {}
    for e in execs:
        if e["key"] not in failed:
            by_key.setdefault(e["key"], []).append(e)
    out: dict[str, float] = {}
    for fam in FAMILIES:
        out[f"{fam}_cold_s"] = 0.0
        out[f"{fam}_warm_s"] = 0.0
    out["stream_s"] = 0.0
    for key, es in by_key.items():
        fam = family_of(key)
        out[f"{fam}_cold_s"] += es[0]["s"]
        warm = [e["s"] for e in es[1:]]
        if warm:
            out[f"{fam}_warm_s"] += statistics.median(warm)
        if fam == "streaming":
            out["stream_s"] += statistics.median(e["s"] for e in es)
    return out


def warm_pass_seconds(execs: list[dict]) -> list[float]:
    """Seconds of each warm pass over the key set (every pass after the
    first), leaving out keys that failed anywhere, as ``time_sums`` does."""
    failed = {e["key"] for e in execs if not e["ok"]}
    passes: dict[int, float] = {}
    for e in execs:
        if e["pass"] > 0 and e["key"] not in failed:
            passes[e["pass"]] = passes.get(e["pass"], 0.0) + e["s"]
    return [passes[p] for p in sorted(passes)]


# ---------------------------------------------------------------- oracle check


def _rows(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, normalized and sorted as the
    repository's oracle check does."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_val(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def oracle_diff(con, sql: str, cols: list[str], rows) -> str | None:
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    for i, (a, b) in enumerate(zip(_rows(cols, rows), _rows(ocols, orows))):
        if not values_equal(a, b):  # bit-exact floats
            return f"sorted row {i}: {a!r} != oracle {b!r}"
    return None


# ------------------------------------------------------------------- workload


def _catalyst_ms(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    jvm = df.sparkSession.sparkContext._jvm
    jmap = jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return float(sum(jmap[k].durationMs() for k in jmap.keySet()))


def _codegen(jvm) -> tuple[int, float]:
    """(classes compiled so far, mean compile ms of the recent reservoir)."""
    h = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return int(h.getCount()), float(h.getSnapshot().getMean())


def run_key(spark, qs, key: str, sf: str, tr: Tracer, op_layer: str) -> dict:
    """One execution: build (the key returns its DataFrame) then collect."""
    rec = {"key": key, "ok": True, "s": 0.0, "build": 0.0, "exec": 0.0}
    jvm = spark.sparkContext._jvm
    cg0 = _codegen(jvm) if tr.enabled else None
    with tr.span(key, op_layer) as sp:
        t0 = time.perf_counter()
        try:
            with tr.span(f"{key}.build", op_layer):
                df = qs[key](spark, sf)
            t1 = time.perf_counter()
            with tr.span(f"{key}.exec", "action"):
                rows = df.collect()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failing key is counted, not fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
            return rec
        rec.update(s=t2 - t0, build=t1 - t0, exec=t2 - t1, cols=df.columns, rows=rows)
        if sp is not None:
            cg1 = _codegen(jvm)
            sp.attrs["catalyst_ms"] = _catalyst_ms(df)
            sp.attrs["codegen_classes"] = cg1[0] - cg0[0]
            sp.attrs["codegen_compile_ms"] = (cg1[0] - cg0[0]) * cg1[1]
    return rec


def run_operators(spark_box, seed: int, seconds: float, tr: Tracer, root: str, layers: dict):
    import __spark_entry__ as entry
    from kdb_spark.tables import TABLE_NAMES, events_us, load

    from perfbench import session

    sf = os.path.join(root, "data", "sf")
    qs = entry.queries()
    order = entry.registration_order()
    keys = sorted((k for ks in FAMILIES.values() for k in ks), key=order.index)

    box = {}

    def prepare(spark, rep):
        box["spark"] = spark
        t0 = time.perf_counter()
        with tr.span("tables.load", "tables"):
            for t in TABLE_NAMES:
                load(spark, sf, t)
            events_us(spark, sf)
        layers.setdefault("tables.load_ms", []).append((time.perf_counter() - t0) * 1000.0)

    setup_times = session.setup_reps(spark_box, tr, "perfbench-operators", layers, prepare)
    spark = box["spark"]

    execs: list[dict] = []
    for key in keys:  # the cold pass
        execs.append(run_key(spark, qs, key, sf, tr, family_of(key)) | {"pass": 0})
    t0 = time.perf_counter()
    rounds = 1
    while rounds <= MIN_WARM_PASSES or time.perf_counter() - t0 < seconds:
        for key in keys:
            execs.append(run_key(spark, qs, key, sf, tr, family_of(key)) | {"pass": rounds})
        rounds += 1

    known = {}
    for key in KNOWN_FAILURES:  # untimed, outside the counts
        rec = run_key(spark, qs, key, sf, tr, "known_failure")
        known[key] = "ok" if rec["ok"] else rec["error"]
    return execs, setup_times, known, sf


def check_oracles(execs: list[dict], sf: str) -> list[str]:
    """Compare each key's last successful result with its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    from kdb_spark.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    last = {e["key"]: e for e in execs if e["ok"]}
    errors = []
    for key, e in last.items():
        if key not in oracles:
            errors.append(f"{key}: no oracle query")
            continue
        bad = oracle_diff(con, oracles[key], e["cols"], e["rows"])
        if bad:
            errors.append(f"{key}: {bad}")
    con.close()
    return errors
