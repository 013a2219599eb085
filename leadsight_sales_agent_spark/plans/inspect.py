"""Plan inspection helpers — the engine's window into Catalyst.

The engine writes no planner of its own (SURVEY.md §3: the IR is
Catalyst's); what it owns is the OBLIGATION that plans stay
scale-shaped: filters pushed into scans, columns pruned, dimensions
broadcast, aggregates partial+final, top-k as TakeOrderedAndProject.
These helpers extract the evidence; tests/test_plans.py pins it.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """``explain("formatted")`` as a string (physical plan + details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    """``explain()`` one-liner-per-node physical plan."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )


def optimized_logical_plan(df: DataFrame) -> str:
    """The optimized LOGICAL plan — where join-strategy hints live
    (``rightHint=(strategy=broadcast)``), before physical selection."""
    return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001


def pushed_filters(plan: str) -> list[str]:
    """Every ``PushedFilters: [...]`` block from a formatted plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


