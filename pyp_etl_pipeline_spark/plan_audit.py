"""Plan-capture shim for the audit tooling (VERDICT r12 item 3).

Iterative operators (PageRank/connected components/BFS frontiers, BPE
merge rounds, MinHash signature stages, cascade filters) anchor each round
with ``DataFrame.localCheckpoint`` — which TRUNCATES lineage, so by the
time the registry query returns its final DataFrame, the per-iteration
building blocks are invisible to any plan inspection. That left
PLANS.md rows for gr01/gr02/bfs01/tk01/cf01 near all-zero and blinded
the registry-wide row-Python / cartesian / nondeterminism sweeps to
exactly the plans that run the most times at scale.

``capture_checkpoint_plans`` closes the blind spot WITHOUT touching
engine code: within the context, every ``localCheckpoint`` call records
the pre-truncation analyzed + executed plan strings into the caller's
buffer, proceeds unchanged, and then records the plan as it ran. Under
AQE the executed plan is the initial one, and only the post-call string
shows the joins AQE re-planned at run time (a sort-merge join turned
broadcast once a shuffle stage came out small): the checkpoint ran the
plan's shuffle stages even when lazy. Observation only — the audit
tool is the one place a monkeypatch is the right tool, because the
engine's checkpoint semantics must stay byte-identical in production.
"""

from __future__ import annotations

from contextlib import contextmanager

# Spark 4 split the API: pyspark.sql.dataframe.DataFrame is the abstract
# parent and sessions hand out pyspark.sql.classic.dataframe.DataFrame,
# which OVERRIDES localCheckpoint — patching only the parent intercepts
# nothing. Patch the concrete class (fall back to the parent on older
# layouts).
try:
    from pyspark.sql.classic.dataframe import DataFrame as _ConcreteDF
except ImportError:  # pragma: no cover — pre-4.0 layout
    from pyspark.sql.dataframe import DataFrame as _ConcreteDF


@contextmanager
def capture_checkpoint_plans(buffer: list):
    """Record {"analyzed": str, "executed": str, "final": str} into
    ``buffer`` for every DataFrame.localCheckpoint call made inside the
    context; ``final`` is the executed plan read after the call."""
    orig = _ConcreteDF.localCheckpoint

    def capturing(self, eager: bool = True):
        qe = self._jdf.queryExecution()
        plans = {
            "analyzed": qe.analyzed().toString(),
            "executed": qe.executedPlan().toString(),
        }
        buffer.append(plans)
        checkpointed = orig(self, eager=eager)
        plans["final"] = qe.executedPlan().toString()
        return checkpointed

    _ConcreteDF.localCheckpoint = capturing
    try:
        yield buffer
    finally:
        _ConcreteDF.localCheckpoint = orig
