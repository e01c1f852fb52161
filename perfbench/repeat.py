#!/usr/bin/env python3
"""Repeat runs and their spread, the host's speed, and the tracing overhead.

    python3 perfbench/repeat.py --seeds 1-10                 # every workload, untraced
    python3 perfbench/repeat.py --workloads operators --seeds 1-5
    python3 perfbench/repeat.py --seeds 1-3 --overhead       # traced and untraced
    python3 perfbench/repeat.py --seeds 1-10 --reference perfbench/out/repeat_A.json
    python3 perfbench/repeat.py --seeds 1-10 --sets 2          # two sets, taking turns

Runs ``perfbench/run.py`` once per (workload, seed) in sequence and prints,
for every end-to-end metric, the median, the quartiles and the quartile
spread as a share of the median (``statistics.quantiles(values, n=4)``).
Every run times a fixed CPU task before and after its workload
(``calib_ms``); the set's calibration median says how fast the host was.
With ``--reference`` the set is compared with an earlier summary: each
metric's median may be worse by at most its bound. A set whose calibration
median is more than half the smallest bound away from the reference's ran
on a host of another speed; it is flagged, and its comparison says nothing about
the program. With ``--sets 2`` two sets run, taking turns seed by seed so
that a slow stretch of the host hits both alike, and the second is compared
with the first in the same way. Any failed comparison exits 1.
With ``--overhead`` each seed also runs traced; the traced run's own
end-to-end figures, taken from its trace file, give traced minus untraced.
A summary is written to ``perfbench/out/repeat_<stamp>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, CHECKOUT)

from perfbench import common  # noqa: E402


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, float]:
    """(result line, wall seconds, mean calibration ms) of one run."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
    )
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    m = re.search(r"calib_ms ([\d.]+) -> ([\d.]+)", p.stdout)
    return json.loads(lines[-1]), wall, (float(m[1]) + float(m[2])) / 2


def compare(summary: dict, ref: dict, metrics: list[dict]) -> list[str]:
    """Problems of this set against a reference set: a calibration median
    more than half the smallest bound away, or a metric median worse than
    the reference's by more than its bound. Half, because the Spark work
    slowed by 1.1-2.2 times as much as the one-thread calibration did."""
    bad = []
    tol = min(m["bound"] for m in metrics) / 2
    for w, row in summary.items():
        if w not in ref:
            continue
        c, rc = row["calib_ms"]["median"], ref[w]["calib_ms"]["median"]
        if abs(c / rc - 1) > tol:
            bad.append(f"{w}: host speed differs, calibration median {c:.2f} ms vs "
                       f"{rc:.2f} ms ({c / rc - 1:+.1%}, over {tol:.1%}): not comparable")
        for m in metrics:
            med, rmed = row[m["name"]]["median"], ref[w][m["name"]]["median"]
            worse = (med - rmed) / rmed if m["better"] == "lower" else (rmed - med) / rmed
            verdict = "ok" if worse <= m["bound"] else "WORSE THAN BOUND"
            print(f"  {w} {m['name']}: median {med:.4f} vs reference {rmed:.4f}, "
                  f"worse by {worse:+.1%} (bound {m['bound']:.0%}) {verdict}")
            if worse > m["bound"]:
                bad.append(f"{w} {m['name']}: worse by {worse:+.1%}, bound {m['bound']:.0%}")
    return bad


def summarize(w: str, r: dict, bounds: dict, label: str) -> dict:
    """Median, quartiles and spread of one set's runs of one workload (printed)."""
    out = {"wall_s": r["walls"]}
    for m, b in bounds.items():
        med, q1, q3, rel = common.spread(r["vals"][m])
        row = {"values": r["vals"][m], "median": med, "q1": q1, "q3": q3, "spread": rel, "bound": b}
        flag = "" if rel <= b / 3 else (" (over bound/3)" if rel <= b else " (OVER BOUND)")
        line = f"  {label}{w} {m}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} spread {rel:.3f} bound {b}{flag}"
        if r["traced"][m]:
            tmed = common.spread(r["traced"][m])[0]
            row["traced_median"] = tmed
            row["overhead"] = tmed - med
            line += f" traced {tmed:.4f} overhead {tmed - med:+.4f} ({(tmed - med) / med:+.1%})"
        out[m] = row
        print(line, flush=True)
    med, q1, q3, rel = common.spread(r["calibs"])
    out["calib_ms"] = {"values": r["calibs"], "median": med, "q1": q1, "q3": q3, "spread": rel}
    print(f"  {label}{w} calib_ms: median {med:.2f} q1 {q1:.2f} q3 {q3:.2f} spread {rel:.3f}")
    print(f"  {label}{w} wall per run: median {common.spread(r['walls'])[0]:.1f}s "
          f"max {max(r['walls']):.1f}s", flush=True)
    return out


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1,
                    help="sets of runs, taking turns seed by seed; later sets are compared with the first")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--reference", help="an earlier repeat_*.json summary to compare with")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    summaries: list[dict] = [{} for _ in range(args.sets)]
    for w in args.workloads.split(","):
        runs = [{"vals": {m: [] for m in bounds}, "traced": {m: [] for m in bounds},
                 "walls": [], "calibs": []} for _ in range(args.sets)]
        for seed in _seeds(args.seeds):
            for k, r in enumerate(runs):  # sets take turns, so slow stretches hit them alike
                res, wall, calib = run_once(w, seed, seconds, 0)
                r["walls"].append(wall)
                r["calibs"].append(calib)
                for m in bounds:
                    r["vals"][m].append(res["metrics"][m]["value"])
                print(f"{w} set {k + 1} seed {seed}: " + " ".join(
                    f"{m}={r['vals'][m][-1]:.4f}" for m in bounds)
                    + f" calib_ms={calib:.2f} wall={wall:.1f}s", flush=True)
                if args.overhead:
                    run_once(w, seed, seconds, 1)
                    with open(os.path.join(HERE, "out", f"trace_{w}_{seed}.json")) as fh:
                        e2e = json.load(fh)["e2e_traced"]
                    for m in bounds:
                        r["traced"][m].append(e2e[m])
        for k, r in enumerate(runs):
            summaries[k][w] = summarize(w, r, bounds, f"set {k + 1} " if args.sets > 1 else "")

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    stamp = time.strftime("%Y%m%d-%H%M%S")
    for k, summary in enumerate(summaries):
        path = os.path.join(HERE, "out", f"repeat_{stamp}" + (f"_set{k + 1}" if args.sets > 1 else "")
                            + ".json")
        with open(path, "w") as fh:
            json.dump(summary, fh, indent=1)
        print(f"wrote {os.path.relpath(path, CHECKOUT)}")
    pairs = [(f"set {k + 1} against set 1", summaries[k], summaries[0]) for k in range(1, args.sets)]
    if args.reference:
        with open(args.reference) as fh:
            ref = json.load(fh)
        pairs += [(f"set {k + 1} against {args.reference}", s, ref) for k, s in enumerate(summaries)]
    bad = []
    for title, summary, ref in pairs:
        print(f"{title}:")
        found = compare(summary, ref, bench["end_to_end"])
        for b in found:
            print(f"  FLAG {b}")
        bad += found
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
