"""Physical-plan auditing — the 100 TB hygiene checklist, mechanized.

The reference has no optimizer (SURVEY.md §4); on Spark the optimizer is
the whole point, so this module makes its decisions *observable* and
therefore testable: scans must show pushed filters and pruned schemas,
small-dim joins must broadcast, aggregates must have a partial (map-side)
phase, and shuffle (Exchange) counts must match the operator's contract.
tests/test_plans.py pins these properties so a regression that silently
de-optimizes a plan (e.g. a lost broadcast hint or a filter that stops
pushing) fails CI, not the cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


#: exec node names that run a Python worker: the EvalPython family
#: (Arrow/Batch, UDTF forms), the Arrow window and aggregate UDF nodes,
#: and every map / group / cogroup / state node running "In" Pandas or Arrow
_PYTHON_NODE = re.compile(r"\w*(?:Python(?:UDTF)?|In(?:Pandas|Arrow)\w*)")


def physical_plan(df: DataFrame) -> str:
    """The formatted physical plan (what ``df.explain('formatted')``
    prints), as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_report(df: DataFrame) -> dict:
    """Structured summary of scale-relevant plan properties."""
    plan = physical_plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # formatted plans name each node twice (tree + numbered detail
    # section); count only the "(N) NodeName" detail headers.
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.MULTILINE)
    return {
        "n_exchanges": sum(n == "Exchange" for n in nodes),
        "n_broadcast_joins": sum(n == "BroadcastHashJoin" for n in nodes),
        "n_sortmerge_joins": sum(n == "SortMergeJoin" for n in nodes),
        "n_codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "has_partial_agg": "partial_" in plan or "HashAggregate" in plan,
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_schema_cols": [
            [c.split(":")[0] for c in s.split(",") if c] for s in read_schemas
        ],
        "has_python_worker": any(_PYTHON_NODE.fullmatch(n) for n in nodes),
        "plan": plan,
    }
