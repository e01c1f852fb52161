#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload store --seed 1 --seconds 12 --trace 0

Run from the repository root. Human-readable lines go first; the last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced). A
traced run also writes its spans and per-layer record to
``perfbench/out/trace_<workload>_<seed>.json``. Any wrong output exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, CHECKOUT)

from perfbench import common  # noqa: E402

WORKLOADS = ("store", "operators")
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms"}


def _layer_names() -> dict[str, str]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def store_metrics(run, layers: dict, tr) -> dict[str, float]:
    """Per-layer values of a store workload (the timed phase only)."""
    out = {}
    for verb in ("get", "find", "put"):
        lat = [x * 1000.0 for x in run.lat.get(verb, [])]
        out[f"store.{verb}.n"] = len(lat)
        out[f"store.{verb}.ms" if verb == "put" else f"store.{verb}.p50_ms"] = _med(lat)
        out[f"store.{verb}.p90_ms"] = common.percentile(lat, 90) if lat else 0.0
    for verb in ("get", "find"):
        parts = run.parts.get(verb, [])
        out[f"store.{verb}.build_ms"] = _med([b * 1000.0 for b, _ in parts])
        out[f"store.{verb}.exec_ms"] = _med([e * 1000.0 for _, e in parts])
    for verb in ("remove_before", "compact"):
        out[f"store.{verb}.ms"] = _med([x * 1000.0 for x in run.lat.get(verb, [])])
    out["store.preload_s"] = _med(layers.get("store.preload_s", []))
    out["store.files_per_bucket"] = statistics.fmean(layers["store.files_per_bucket"])
    out["store.compact.files_in"] = statistics.fmean(layers.get("store.compact.files_in") or [0])
    out["store.hot_cache.rebuilds"] = _med(layers.get("store.hot_cache.rebuilds", []))
    out["densify.rows_out"] = run.dense_rows / max(1, len(run.lat.get("get", [])) + len(run.lat.get("find", [])))
    out["densify.fill_frac"] = run.dense_filled / run.dense_rows if run.dense_rows else 0.0
    if tr.enabled:
        for verb in ("get", "find", "put"):
            r = common.rollup(tr.spans, lambda s, v=verb: s.parent is None and s.name == f"store.{v}")
            out[f"store.{verb}.jobs"] = r.get("jobs", 0) / r["n"] if r["n"] else 0.0
        r = common.rollup(tr.spans, lambda s: s.parent is None and s.name == "store.put")
        out["store.put.rows"] = r.get("rows", 0) / r["n"] if r["n"] else 0.0
    return out


def operator_metrics(execs: list[dict], tr) -> dict[str, float]:
    from perfbench import operators

    out = {f"operators.{k}": v for k, v in operators.time_sums(execs).items()}
    if not tr.enabled:
        return out
    for fam in operators.FAMILIES:
        ex = [e for e in execs if e["ok"] and operators.family_of(e["key"]) == fam]
        out[f"{fam}.build_ms"] = statistics.fmean(e["build"] for e in ex) * 1000.0
        out[f"{fam}.exec_ms"] = statistics.fmean(e["exec"] for e in ex) * 1000.0
        r = common.rollup(tr.spans, lambda s, f=fam: s.layer == f and s.parent is None)
        n = r["n"] or 1
        for k in ("jobs", "stages", "tasks", "executor_run_ms", "gc_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "codegen_compile_ms", "catalyst_ms"):
            out[f"{fam}.{k}"] = r.get(k, 0) / n
    r = common.rollup(tr.spans, lambda s: s.layer == "streaming" and s.name in operators.FAMILIES["streaming"])
    n = r["n"] or 1
    out["streaming.batches"] = r.get("batches", 0) / n
    for ph in ("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets"):
        out[f"streaming.{ph}_ms"] = r.get(f"{ph}_ms", 0) / n
    out["streaming.state_rows"] = r.get("state_rows", 0) / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("kdb_spark/__init__.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(CHECKOUT, need)):
            print(f"perfbench: {need} not found under {CHECKOUT}; run from the repository root",
                  file=sys.stderr)
            return 2

    # on SIGTERM, unwind through the finally below: stop the JVM, drop scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    noise = common.HostNoise()
    root = common.scratch_root(CHECKOUT)
    if args.workload == "operators":
        # the generated tables are read-only for the whole run, so the
        # program may memoize their listings as it does for its test data
        os.environ["SPARK_GRAFT_READONLY_ROOTS"] = os.path.join(root, "data")
    tr = common.Tracer(bool(args.trace))
    spark_box = [None]
    try:
        return _run(args, root, tr, spark_box, noise)
    finally:
        from perfbench import session

        session.shutdown(spark_box[0])
        common.remove_tree(root)


def _run(args, root: str, tr, spark_box, noise) -> int:
    from perfbench import session

    calib = [common.calibrate()]  # host speed before the run ...
    session.configure_launch(root, bool(args.trace))
    layers: dict = {}
    if args.workload == "operators":
        from perfbench import datagen

        datagen.generate(os.path.join(root, "data", "sf"), args.seed)

    t0 = time.perf_counter()
    marks = [("begin", t0)]
    with tr.span("session.launch", "session"):
        spark_box[0] = session.start(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    tr.sc = spark_box[0].sparkContext
    pids = [os.getpid(), session.jvm_pid() or os.getpid()]

    marks.append(("start", time.perf_counter()))
    known, errors = {}, []
    if args.workload == "store":
        from perfbench import store_workloads

        run, setup_times = store_workloads.run_store(spark_box, args.seed, args.seconds, tr, root, layers)
        marks.append(("workload", time.perf_counter()))
        calib.append(common.calibrate())  # ... and after its timed phase
        ops = [x for v in run.lat.values() for x in v]
        attempted, failed = len(ops), 0
        errors = run.errors
        e2e_lat = run.lat["get"]  # the most frequent verb: 4 of a step's 7 calls
    else:
        from perfbench import operators

        execs, setup_times, known, sf = operators.run_operators(
            spark_box, args.seed, args.seconds, tr, root, layers)
        marks.append(("workload", time.perf_counter()))
        calib.append(common.calibrate())
        ok = [e for e in execs if e["ok"]]
        attempted, failed = len(execs), len(execs) - len(ok)
        ops = [e["s"] for e in ok]
        e2e_lat = operators.warm_pass_seconds(execs)
        errors = operators.check_oracles(execs, sf)
        for e in execs:
            if not e["ok"]:
                print(f"perfbench: FAILED {e['key']}: {e['error']}")
        marks.append(("check", time.perf_counter()))

    if tr.enabled:
        for events in common.read_event_logs(os.path.join(root, "eventlog")):
            common.attach_spark_work(tr.spans, events)
    if args.workload == "operators":
        layer_vals = operator_metrics(execs, tr)
    else:
        layer_vals = store_metrics(run, layers, tr)

    e2e = {
        "setup_s": _med(setup_times),
        "ops_per_s": len(ops) / sum(ops) if ops else 0.0,
        "p50_ms": _med([x * 1000.0 for x in e2e_lat]),
    }
    host = noise.read()
    host["rss_peak_mb"] = common.rss_peak_mb(pids)
    host["calib_ms"] = statistics.fmean(calib)
    for k, v in known.items():
        print(f"perfbench: known failure {k}: {v}")
    for k in ("setup_s", "ops_per_s", "p50_ms"):
        print(f"perfbench: {args.workload} {k} = {e2e[k]:.4f} {E2E_UNITS[k]}")
    print(f"perfbench: attempted {attempted} failed {failed}")
    print(f"perfbench: host calib_ms {calib[0]:.2f} -> {calib[1]:.2f} steal_frac "
          f"{host['steal_frac']:.4f} cpu_psi_some {host['cpu_psi_some']:.4f} "
          f"rss_peak_mb {host['rss_peak_mb']:.0f}")
    for k in sorted(layer_vals):
        if not tr.enabled and "." in k:
            print(f"perfbench:   {k} = {layer_vals[k]:.4f}")
    print("perfbench: phases " + " ".join(
        f"{n}={t - p:.1f}s" for (_, p), (n, t) in zip(marks, marks[1:])))
    for err in errors[:20]:
        print(f"perfbench: WRONG {err}")

    if tr.enabled:
        layer_vals["session.launch_s"] = start_s
        layer_vals["session.start_s"] = _med(layers.get("session.restart_s", []))
        layer_vals["session.warmup_s"] = _med(layers.get("session.warmup_s", []))
        layer_vals["tables.load_ms"] = _med(layers.get("tables.load_ms", []))
        for k, v in host.items():
            layer_vals[f"machine.{k}"] = v
        names = _layer_names()
        metrics = {n: {"value": float(layer_vals.get(n, 0.0)), "unit": u} for n, u in names.items()}
        _write_trace(args, tr, e2e, layer_vals)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    correct = not errors
    if not correct:
        return 1
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _write_trace(args, tr, e2e: dict, layer_vals: dict) -> None:
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    selfs = common.self_times(tr.spans)
    rec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "e2e_traced": e2e, "per_layer": layer_vals,
        "spans": [
            {"sid": s.sid, "name": s.name, "layer": s.layer, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_ms": selfs[s.sid] * 1000.0, **s.attrs}
            for s in tr.spans
        ],
    }
    path = os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh)
    print(f"perfbench: wrote {os.path.relpath(path, CHECKOUT)}")


if __name__ == "__main__":
    sys.exit(main())
