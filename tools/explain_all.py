"""Dump plan-quality evidence for every registry query into PLANS.md:
join strategies, pushed filters, scan schemas (column pruning), Python
eval nodes. This is the artifact behind SCALE.md's claims.

Usage: python tools/explain_all.py [sf_dir] [--full name ...]
       (--full additionally prints the formatted plan for named queries)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY  # noqa: E402
from pyp_etl_pipeline_spark.plan_audit import capture_checkpoint_plans  # noqa: E402
from pyp_etl_pipeline_spark.session import get_spark  # noqa: E402

SKIP_EXECUTING = {"st01_streaming_tumbling", "st02_streaming_sliding", "st03_stateful_running_totals"}


def summarize(plan: str) -> dict:
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "bnl_joins": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "shuffles": plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning"),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[A-Za-z]", plan)),
        # Row-at-a-time Python (must stay 0 everywhere) vs Arrow-vectorized
        # pandas UDFs — "EvalPython" alone would conflate the two.
        "row_python_eval": plan.count("BatchEvalPython"),
        "arrow_eval": plan.count("ArrowEvalPython"),
        "arrow_map": plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"),
        "window_group_limit": plan.count("WindowGroupLimit"),
        "max_scan_cols": max((len(s.split(",")) for s in scans), default=0),
    }


NOTES = """
## Notes (maintained in tools/explain_all.py, survive regeneration)

- **j13_reject_payload (r10)**: was 4 SMJ / 11 shuffles — the heaviest
  plan in the registry (VERDICT r9). Cause: `best` (rank==1 filter) and
  `alternatives` (rank>=2 window+groupBy) were two consumers of the same
  ranked DataFrame, so the physical plan re-derived the entire fuzzy
  chain per consumer and met in an SMJ. Fixed by folding both into ONE
  aggregation over one traversal (SCALE.md round-10 note). Now
  2 SMJ / 6 shuffles: the survivors are the blocking-coverage LEFT ANTI
  (corpus-sized probe vs covered-items set) and the misses LEFT join
  that resurrects zero-candidate items — both single-shuffle,
  large-large by nature, no duplicated compute. j02b's remaining 2 SMJ
  are the same two relational steps.
- **bnl/cart column (r13)**: BroadcastNestedLoopJoin / CartesianProduct
  counts, summed over final + captured checkpoint-stage plans. Cartesian
  must stay 0 registry-wide. The BNLs that do appear (cf01, gr01, dm01,
  …) are keyless joins of BROADCAST one-row aggregates (grand totals,
  norm constants) against a big side — constant-size build, one pass,
  the intended shape for "divide by the global sum" steps.
- **hy01/ev03 shuffle counts are registry-order-sensitive**: both read
  `tables.load_corpus_unique`, which persists the deduped corpus once per
  session. Whichever query plans FIRST carries the distinct+repartition
  exchanges (+4 shuffles, and pushed filters land below the cache);
  later queries read the InMemoryTableScan. The r10 driver window moved
  them to the front of the registry, so their rows absorbed the
  materialization that a01/cp01 rows carried before. Not a plan change.
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
    full = sys.argv[sys.argv.index("--full") + 1 :] if "--full" in sys.argv else []
    spark = get_spark("explain-all", extra_conf={"spark.ui.showConsoleProgress": "false"})

    lines = [
        "# PLANS — physical-plan summary per registry query",
        "",
        f"Generated by `tools/explain_all.py` at `{sf_dir}` (pre-execution AQE",
        "plans; broadcast/shuffle/pushdown decisions are visible, codegen",
        "spans only materialize at runtime).",
        "",
        "Counters are summed over the FINAL plan plus every pre-`localCheckpoint`",
        "stage plan captured during the build (`plan_audit.capture_checkpoint_plans`),",
        "so iterative queries (PageRank/BFS/BPE/MinHash stages) show their",
        "per-iteration building blocks instead of an all-zero post-truncation row;",
        "`ckpt stages` counts the captured checkpoints.",
        "",
        "| query | bcast joins | SMJ | bnl/cart | shuffles | pushed filters | row py | arrow eval | arrow map | wgl | ckpt stages | max scan cols |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    fulls = []
    for name, (fn, _) in sorted(REGISTRY.items()):
        if name in SKIP_EXECUTING:
            lines.append(f"| {name} | — | — | — | — | — | — | — | — | — | — | (streaming; drains a query) |")
            continue
        stage_plans: list[dict] = []
        try:
            with capture_checkpoint_plans(stage_plans):
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR {type(exc).__name__} | | | | | | | | | | |")
            continue
        s = summarize("\n".join([plan, *(sp["executed"] for sp in stage_plans)]))
        lines.append(
            f"| {name} | {s['broadcast_joins']} | {s['sortmerge_joins']} | {s['bnl_joins']}/{s['cartesian']} "
            f"| {s['shuffles']} "
            f"| {s['pushed_filters']} | {s['row_python_eval']} | {s['arrow_eval']} | {s['arrow_map']} "
            f"| {s['window_group_limit']} | {len(stage_plans)} | {s['max_scan_cols']} |"
        )
        if name in full:
            fulls.append(f"\n## {name}\n\n```\n{plan}\n```\n")

    out = "\n".join(lines) + "\n" + NOTES + "".join(fulls)
    out_path = os.path.join(REPO, "PLANS.md")
    with open(out_path, "w") as f:
        f.write(out)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
