"""Propose the next round's _DRIVER_PRIORITY window from the evidence
ledger (CORRECTNESS_r*.json) — the per-round rotation that used to be
hand-edited (and grew the duplicate rows ADVICE r10 flagged).

Policy (the one VERDICT r9-r11 converged on):
1. changed-code / zero-evidence queries first (pass their names as
   --changed a,b,c — anything whose engine or twin changed since the
   last driver gate, plus brand-new queries, which are auto-detected);
2. then stalest-first backfill by each query's LATEST evidence round,
   ties broken by name;
3. the window is the first 50; everything after is printed as the
   backfill order for reference. The next rotation recomputes the order
   from the ledger, so the tail is never pasted.

Prints the proposed python list body; paste ONLY the 50-slot window
(the lines above ``# ---- end of the 50-slot driver window ----``) into
driver_queries_ext._DRIVER_PRIORITY (the uniqueness/resolvability test
pins the invariants). Read-only: this tool never edits source.

Usage: python tools/rotate_window.py [--changed name1,name2,...]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50


def latest_evidence() -> tuple[dict[str, int], set[str]]:
    """(latest GREEN round per query, queries whose MOST RECENT row is
    not green). Only rows with rows/schema/hash all true and no err
    count as evidence (ADVICE r11: a failed latest row must lead the
    next window, not be deferred as 'freshest')."""
    latest: dict[str, int] = {}
    latest_any: dict[str, tuple[int, bool]] = {}
    for f in sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    ):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for name, row in json.load(open(f)).items():
            green = (
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and bool(row.get("hash_match"))
                and not row.get("err")
            )
            if green:
                latest[name] = max(latest.get(name, 0), rnd)
            prev = latest_any.get(name, (0, True))
            if rnd >= prev[0]:
                latest_any[name] = (rnd, green)
    red = {n for n, (_, green) in latest_any.items() if not green}
    return latest, red


def main() -> int:
    changed: list[str] = []
    args = sys.argv[1:]
    if "--changed" in args:
        changed = [
            n.strip()
            for n in args[args.index("--changed") + 1].split(",")
            if n.strip()
        ]

    from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY  # noqa: PLC0415

    latest, red = latest_evidence()
    names = list(REGISTRY)
    unknown = [n for n in changed if n not in REGISTRY]
    if unknown:
        print(f"ERROR: --changed names not in REGISTRY: {unknown}", file=sys.stderr)
        return 2

    # forced head: changed code, then queries whose latest driver row
    # FAILED, then zero-evidence (new) queries — all must re-certify
    # before any staleness backfill.
    red_live = sorted(n for n in red if n in REGISTRY and n not in changed)
    new_queries = sorted(
        n for n in names if n not in latest and n not in changed and n not in red_live
    )
    head = changed + red_live + new_queries
    backfill = sorted(
        (n for n in names if n not in head and n in latest),
        key=lambda n: (latest[n], n),
    )
    order = head + backfill
    window, tail = order[:WINDOW], order[WINDOW:]

    print(f"# proposed window ({len(window)} slots): "
          f"{len(changed)} changed + {len(red_live)} red-latest + "
          f"{len(new_queries)} new + "
          f"{max(0, WINDOW - len(head))} stalest-first backfill")
    for n in window:
        mark = " RED-LATEST" if n in red_live else ""
        print(f'    "{n}",  # evidence r{latest.get(n, 0) or "—"}{mark}')
    print("    # ---- end of the 50-slot driver window ----")
    for n in tail:
        print(f'    "{n}",')
    stale = {}
    no_evidence = [n for n in tail if n not in latest]
    for n in tail:
        if n in latest:
            stale.setdefault(latest[n], []).append(n)
    oldest = min(stale) if stale else None
    msg = (f"# tail: {len(tail)} queries; oldest deferred evidence tier: "
           f"r{oldest} ({len(stale.get(oldest, []))} queries)")
    if no_evidence:
        msg += (f"; WARNING: {len(no_evidence)} zero-evidence queries deferred "
                f"past the window: {no_evidence}")
    print(msg, file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
