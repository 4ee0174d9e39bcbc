"""Physical-plan introspection: the engine's scale-discipline instruments.

The reference has no optimizer to inspect (SURVEY §4); this module exists
for the engine's own 100 TB discipline — "correct at sf0.01" says nothing
about "fast at sf1000", but the *shape* of the physical plan does. These
helpers turn `.explain("formatted")` into assertable facts so tests can pin:

- predicate pushdown reached the parquet scan (PushedFilters);
- column pruning reached the scan (ReadSchema width);
- small dimensions broadcast instead of shuffling the fact side;
- a query's shuffle (Exchange) count doesn't silently regress.

A plan assertion failing at fixture scale = a scan/shuffle regression that
would cost hours at production scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (same text as .explain('formatted'))."""
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's scans (flattened)."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            # split on top-level commas (filter atoms never nest brackets)
            out.extend(re.split(r",\s*(?=[A-Z])", body))
    return out


def scan_schemas(df: DataFrame) -> list[list[str]]:
    """Column lists read by each parquet scan (ReadSchema), in plan order."""
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        schemas.append(cols)
    return schemas


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchanges (excludes BroadcastExchange)."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", formatted_plan(df)))


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)
