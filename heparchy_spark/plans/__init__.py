"""Plan inspection & scale-property assertions (SURVEY.md §4, §6): the
100 TB failure mode is a plan that silently stopped pruning, so tests,
tools and operators ASSERT plan properties instead of hoping."""

from heparchy_spark.plans.inspect import (  # noqa: F401
    MARKERS,
    RUNTIME_MATERIALIZED,
    PlanFacts,
    executed_plan,
    facts_from_plan,
    fingerprint,
    has_broadcast_join,
    has_partition_filters,
    offenders,
    physical_plan,
    plan_facts,
    pushed_filters,
    scan_columns,
    shuffle_count,
    violations,
)
