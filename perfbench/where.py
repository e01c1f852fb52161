#!/usr/bin/env python3
""""Where the time goes" tables from traced runs.

    python3 perfbench/where.py perfbench/out/trace_*.json

For each store verb of the timed phase: median total, build (until the
DataFrame returns) and exec (the action) ms, with Spark jobs, tasks and
executor run time per call. For each operator key's cold and warm
executions: build and exec seconds, Catalyst and codegen ms, jobs, tasks,
executor run and GC ms, and stream phase ms. Medians over all given files.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

_SUMS = ("jobs", "tasks", "executor_run_ms", "gc_ms", "catalyst_ms",
         "codegen_compile_ms", "addBatch_ms", "queryPlanning_ms")


def load_spans(path: str) -> tuple[str, list[common.Span]]:
    """(workload, spans) of one trace file written by ``run.py``."""
    with open(path) as fh:
        rec = json.load(fh)
    spans = []
    for d in rec["spans"]:
        d = dict(d)
        d.pop("self_ms", None)
        spans.append(common.Span(d.pop("sid"), d.pop("name"), d.pop("layer"), d.pop("op"),
                                 d.pop("parent"), d.pop("start"), d.pop("end"), attrs=d))
    return rec["workload"], spans


def main(paths: list[str]) -> int:
    verbs: dict[tuple, list[dict]] = {}
    keys: dict[tuple, list[dict]] = {}
    for path in paths:
        wl, spans = load_spans(path)
        kids = common.children(spans)
        seen = set()
        for s in spans:
            if s.parent is not None:
                continue
            part = {c.name.rsplit(".", 1)[-1]: c.dur * 1000.0 for c in kids.get(s.sid, [])}
            total = common.subtree_attrs(s, kids)
            row = {"ms": s.dur * 1000.0, "build": part.get("build", 0.0),
                   "exec": part.get("exec", 0.0), **{k: total.get(k, 0) for k in _SUMS}}
            if s.layer == "store":
                verbs.setdefault((wl, s.name), []).append(row)
            elif s.layer in ("analytics", "llm", "streaming"):
                phase = "warm" if s.name in seen else "cold"
                seen.add(s.name)
                keys.setdefault((s.name, phase), []).append(row)

    def med(rows, k):
        return statistics.median(r[k] for r in rows)

    print("| workload | verb | n | total ms | build ms | exec ms | jobs | tasks | executor run ms |")
    print("|---|---|---|---|---|---|---|---|---|")
    for (wl, name), rows in sorted(verbs.items()):
        print(f"| {wl} | {name} | {len(rows)} | {med(rows, 'ms'):.0f} | {med(rows, 'build'):.0f} | "
              f"{med(rows, 'exec'):.0f} | {med(rows, 'jobs'):.0f} | {med(rows, 'tasks'):.0f} | "
              f"{med(rows, 'executor_run_ms'):.0f} |")
    print()
    print("| key | pass | total s | build s | exec s | catalyst ms | codegen ms | jobs | tasks | "
          "executor run ms | GC ms | addBatch ms | queryPlanning ms |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    for (name, phase), rows in sorted(keys.items(), key=lambda kv: (-med(kv[1], "ms"), kv[0])):
        print(f"| {name} | {phase} | {med(rows, 'ms') / 1000:.2f} | {med(rows, 'build') / 1000:.2f} | "
              f"{med(rows, 'exec') / 1000:.2f} | {med(rows, 'catalyst_ms'):.0f} | "
              f"{med(rows, 'codegen_compile_ms'):.0f} | {med(rows, 'jobs'):.0f} | "
              f"{med(rows, 'tasks'):.0f} | {med(rows, 'executor_run_ms'):.0f} | "
              f"{med(rows, 'gc_ms'):.0f} | {med(rows, 'addBatch_ms'):.0f} | "
              f"{med(rows, 'queryPlanning_ms'):.0f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
