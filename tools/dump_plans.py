#!/usr/bin/env python
"""Physical-plan audit: dump per-query plan vitals to PLANS.md.

For every `queries()` entry, build the DataFrame at --sf (default sf0.001 —
some callables execute driver-side steps like Lloyd iterations or streaming
drains, so the cheapest scale keeps this fast) and record scale-relevant
plan facts: exchange count, join strategies, whether scans carry pushed
filters, Python-eval nodes, and codegen coverage. The output is a diffable
artifact: a future change that silently adds a shuffle or drops a pushed
filter shows up as a PLANS.md diff.

Usage: python tools/dump_plans.py [--sf DIR] [names...]
"""

from __future__ import annotations

import argparse
import re
import sys

sys.path.insert(0, ".")


def vitals(plan: str) -> dict:
    def n(pat: str) -> int:
        return len(re.findall(pat, plan))

    joins = []
    for j in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        c = n(rf"\(\d+\) {j}")
        if c:
            joins.append(f"{j}×{c}" if c > 1 else j)
    scans = n(r"\(\d+\) Scan parquet")
    pushed = n(r"PushedFilters: \[[^\]]")  # non-empty pushdown lists
    return {
        "exchanges": n(r"\(\d+\) Exchange"),
        "joins": " ".join(joins) or "—",
        "scans": scans,
        "pushed": pushed,
        "python": n(r"\(\d+\) (?:BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|PythonMapInArrow)"),
        "generators": n(r"\(\d+\) Generate"),
        # formatted mode labels codegen membership per node as
        # "[codegen id : N]" — count distinct span ids
        "codegen": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from kdb_spark.session import get_spark

    spark = get_spark("plans", cpus=8)
    # AQE wraps un-executed plans in AdaptiveSparkPlan, which hides codegen
    # span ids until runtime; dump the static plan instead. Bench/production
    # runs keep AQE on — it only re-plans (coalesce/skew-split/broadcast
    # upgrade) at stage boundaries, it never degrades the static shape.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    qs = entry.queries()
    if args.names:
        qs = {k: qs[k] for k in args.names}

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/dump_plans.py` at `{args.sf}`. Columns:",
        "Exchange count (shuffles/broadcasts), join strategies, parquet",
        "scans with a non-empty `PushedFilters` list, Python eval nodes",
        "(all Arrow-batched — the audit would surface a row-wise",
        "`BatchEvalPython`), Generate nodes (explode barriers/spines), and",
        "WholeStageCodegen span count. `stream_*` rows describe the",
        "post-drain memory-sink scan — their streaming plans are pinned by",
        "tests/test_streaming.py batch-equivalence instead. Regenerate after",
        "plan-affecting changes; review the diff like code.",
        "",
        "Known-intentional shapes: `sim_search_topk` carries a",
        "BroadcastNestedLoopJoin — the broadcast side is the tiny query set",
        "and scoring every corpus row against it IS the exact brute-force",
        "baseline (the scale paths are `ann_search_topk`/`ivf_search_topk`).",
        "`dedup_cluster`'s high counts are the unrolled label-propagation",
        "rounds (each a broadcast join on the edge-vertex label table).",
        "",
        "| query | Exchange | joins | scans (pushed) | py | gen | codegen |",
        "|---|---|---|---|---|---|---|",
    ]
    failed = []
    for name, fn in qs.items():
        try:
            df = fn(spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            v = vitals(plan)
            lines.append(
                f"| `{name}` | {v['exchanges']} | {v['joins']} "
                f"| {v['scans']} ({v['pushed']}) | {v['python']} "
                f"| {v['generators']} | {v['codegen']} |"
            )
            print(f"ok   {name}")
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            lines.append(f"| `{name}` | plan dump failed: {exc!r} | | | | | |")
            print(f"FAIL {name}: {exc!r}")

    if args.names:
        # subset run: MERGE the fresh rows into the existing artifact
        # in place — a plain overwrite would silently drop every other
        # query's row from the committed audit
        import re

        with open("PLANS.md") as f:
            existing = f.read()
        for line in lines:
            m = re.match(r"\| `([a-z0-9_]+)` \|", line)
            if not m:
                continue
            pat = re.compile(
                rf"^\| `{re.escape(m.group(1))}` \|.*$", re.M
            )
            if pat.search(existing):
                existing = pat.sub(line.replace("\\", r"\\"), existing, count=1)
            else:
                existing = existing.rstrip("\n") + "\n" + line + "\n"
        with open("PLANS.md", "w") as f:
            f.write(existing if existing.endswith("\n") else existing + "\n")
        print(
            f"\nmerged {len(qs) - len(failed)} row(s) into PLANS.md"
            f" ({len(failed)} failed)"
        )
    else:
        with open("PLANS.md", "w") as f:
            f.write("\n".join(lines) + "\n")
        print(
            f"\nwrote PLANS.md ({len(qs) - len(failed)} ok, {len(failed)} failed)"
        )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
