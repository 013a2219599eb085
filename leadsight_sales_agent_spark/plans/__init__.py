"""Plan-quality tooling. The engine delegates planning to Catalyst
(SURVEY.md §4); this package holds the inspection helpers that let
tests and tooling assert the plans stay scale-shaped."""

from leadsight_sales_agent_spark.plans.inspect import (  # noqa: F401
    formatted_plan,
    optimized_logical_plan,
    pushed_filters,
    simple_plan,
)
