"""Plan inspection helpers (SURVEY §5.3).

The scale contract of every operator is a property of its physical
plan, not its output: filters must reach the parquet scan, dim joins
must broadcast, aggregations must have a map-side partial phase, and
hot paths must stay inside WholeStageCodegen. These helpers turn
those properties into assertions.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the formatted plan."""
    plan = plan_string(df, "formatted")
    return "\n".join(line for line in plan.splitlines() if "PushedFilters" in line)


PYTHON_PLAN_NODES = (
    "BatchEvalPython",      # row-at-a-time Python UDF
    "ArrowEvalPython",      # pandas UDF
    "MapInPandas",          # mapInPandas
    "FlatMapGroupsInPandas",  # applyInPandas
    "PythonUDF",
)


def has_python_eval(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return any(node in plan for node in PYTHON_PLAN_NODES)


def read_schema(df: DataFrame) -> str:
    plan = plan_string(df, "formatted")
    return "\n".join(line for line in plan.splitlines() if "ReadSchema" in line)
