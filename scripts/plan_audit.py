"""Physical-plan audit over every registered driver-contract query.

Builds (does not execute, except where an operator's construction itself
runs driver-side steps — bloom build, CC convergence) the
executed plan of each query at sf0.01 and tallies the markers that decide
100 TB behavior:

* ``shuffles``   — Exchange operators that move data (BroadcastExchange
  excluded: that's the cheap kind);
* ``broadcast``  — BroadcastHashJoin count (small sides broadcast = good);
* ``sortmerge``  — SortMergeJoin count (each one is a both-sides shuffle:
  justified for big-big joins, a smell for small dims);
* ``py``         — Python eval nodes (ArrowEval/BatchEval/MapInPandas/
  FlatMapGroupsInPandas); Arrow-batched is the only acceptable kind, and
  only for kernel work JVM expressions can't do;
* ``pushed``     — whether the parquet scan carries PushedFilters.

(No codegen column: with AQE the pre-execution plan carries no
WholeStageCodegen annotation — codegen shape is only visible on an
executed stage, and this audit deliberately does not execute.)

Writes PLANS.md. Run after adding an operator; diff the table in review —
a new SortMergeJoin or BatchEvalPython in an old query is a regression.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _outer_plan(plan: str) -> str:
    """Strip AQE '== Initial Plan ==' dumps.

    An adaptive plan prints its operators twice (final and initial plan);
    only the final plan's operators execute when the query runs, so tally
    those.
    """
    kept, skip_indent = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-*("))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        kept.append(line)
    return "\n".join(kept)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from wpextract_spark.plans.queries import QUERIES
    from wpextract_spark.session import get_session

    spark = get_session("plan-audit")
    rows = []
    for name, fn in QUERIES.items():
        t0 = time.time()
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            err = None
        except Exception as e:  # keep auditing the rest
            plan, err = "", f"{type(e).__name__}: {e}"
        dt = time.time() - t0
        plan = _outer_plan(plan)
        bcast_ex = plan.count("BroadcastExchange")
        rows.append(
            {
                "query": name,
                # ReusedExchange reads an already-shuffled output — no new
                # data movement, so it doesn't count.
                "shuffles": plan.count("Exchange")
                - bcast_ex
                - plan.count("ReusedExchange"),
                "broadcast": plan.count("BroadcastHashJoin"),
                "sortmerge": plan.count("SortMergeJoin"),
                "py": sum(
                    plan.count(m)
                    for m in (
                        "ArrowEvalPython",
                        "BatchEvalPython",
                        "MapInPandas",
                        "FlatMapGroupsInPandas",
                    )
                ),
                "pushed": bool(
                    re.search(r"PushedFilters: \[[^\]]", plan)
                ),
                "build_s": round(dt, 2),
                "err": err,
            }
        )
        status = "ERR " + err[:40] if err else ""
        print(f"{name:28s} sh={rows[-1]['shuffles']:2d} bc={rows[-1]['broadcast']} "
              f"smj={rows[-1]['sortmerge']} py={rows[-1]['py']} {status}")

    out = [
        "# PLANS — physical-plan audit of every driver-contract query",
        "",
        f"Generated by `python scripts/plan_audit.py {sf_dir}`. Columns: see",
        "the script docstring. `build_s` includes any driver-side steps the",
        "operator runs at construction (bloom build, connected-components",
        "convergence) — not query execution.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | python evals | pushed filters | build_s |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        if r["err"]:
            out.append(f"| {r['query']} | ERROR: {r['err']} | | | | | |")
        else:
            out.append(
                f"| {r['query']} | {r['shuffles']} | {r['broadcast']} | "
                f"{r['sortmerge']} | {r['py']} | "
                f"{'yes' if r['pushed'] else '—'} | {r['build_s']} |"
            )
    n_err = sum(1 for r in rows if r["err"])
    out += [
        "",
        f"{len(rows)} queries audited, {n_err} errors. "
        f"Total python-eval nodes: {sum(r['py'] for r in rows)} "
        "(all Arrow-batched kernel/UDF stages).",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"\nwrote PLANS.md ({len(rows)} queries, {n_err} errors)")


if __name__ == "__main__":
    main()
