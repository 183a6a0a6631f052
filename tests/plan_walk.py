"""Operator names of an executed plan, for plan-shape pins in tests.

Walks the AQE-final plan: ``AdaptiveSparkPlanExec`` and every
``*QueryStageExec`` are unwrapped. A ``ReusedExchangeExec`` is listed but
not entered, because the subtree it reuses runs only once. Run the
DataFrame first (``collect``) and walk that same object: ``count()`` and
writes build a new QueryExecution.
"""

from __future__ import annotations

PYTHON_NODES = ("MapInPandasExec", "ArrowEvalPythonExec", "BatchEvalPythonExec")


def plan_node_names(df) -> list[str]:
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        out.append(name)
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif name != "ReusedExchangeExec":
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out
