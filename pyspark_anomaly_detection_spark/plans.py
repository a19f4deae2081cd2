"""Physical-plan inspection utilities (the engine's scale guardrails).

The 100 TB design point is enforced structurally: filters must reach the
Parquet scan, scans must prune columns, dimension joins must broadcast, and
the relational hot path must stay inside whole-stage codegen (no Python
evaluation).  These helpers turn those properties into assertions that run
in CI (``tests/test_plans.py``) — a plan regression (e.g. a filter that
stops pushing down after a refactor) fails the build instead of silently
becoming a full-scan at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The physical plan in 'formatted' explain mode."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(plan: str) -> list[str]:
    """All PushedFilters lists that made it into Parquet scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(plan: str) -> list[str]:
    """ReadSchema structs — what each scan actually reads off disk."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if some scan's PushedFilters mentions ``fragment``."""
    return any(fragment in f for f in pushed_filters(formatted_plan(df)))


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def count_shuffles(df: DataFrame) -> int:
    """Exchange operators in the plan — each is a full shuffle of its input.

    Counts the numbered operator headers only (the formatted mode prints
    each node twice: once in the tree, once in the detail section).
    """
    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


def has_python_eval(df: DataFrame) -> bool:
    """True if the plan evaluates Python (UDF) stages — banned in the
    relational hot path; allowed only in explicitly-vectorized operators."""
    plan = formatted_plan(df)
    # Spark's Python-eval physical nodes all carry one of these two
    # spellings: *EvalPython / *AggregatePython / *GroupedMapPython
    # ("Python") or MapInPandas / FlatMapGroupsInPandas ("InPandas").
    # Substring-matching both families survives node renames across
    # Spark versions (4.1 renamed AggregateInPandas → ArrowAggregatePython).
    return "Python" in plan or "InPandas" in plan


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """Check via codegen explain mode (the executed plan hides codegen
    spans behind AdaptiveSparkPlan until the query actually runs)."""
    codegen = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "codegen"
    )
    match = re.search(r"Found (\d+) WholeStageCodegen subtrees", codegen)
    return bool(match) and int(match.group(1)) > 0


def has_partial_aggregation(df: DataFrame) -> bool:
    """True if the plan contains a map-side partial aggregate before the
    shuffle (HashAggregate with partial functions)."""
    return "partial_" in formatted_plan(df)


def audit_row(spark, **cols) -> DataFrame:
    """One-row verdict frame built entirely JVM-side.

    Contract-audit queries (q71, q171, ...) reduce a pipeline to a
    single row of exact counts + boolean band verdicts.  Building that
    row with ``spark.createDataFrame([tuple])`` plans as a Python RDD
    scan (``applySchemaToPythonRDD``), which the no-Python blanket
    contract rightly rejects — the values are driver scalars, so the
    frame should be a pure ``Project`` over ``range(1)``.

    Column order follows keyword order; bools/ints/floats/strs map to
    their natural Spark types (ints are BIGINT to match DuckDB COUNT).
    """
    from pyspark.sql import functions as F

    exprs = []
    for name, v in cols.items():
        lit = F.lit(v)
        if isinstance(v, bool):
            lit = lit.cast("boolean")
        elif isinstance(v, int):
            lit = lit.cast("long")
        elif isinstance(v, float):
            lit = lit.cast("double")
        exprs.append(lit.alias(name))
    return spark.range(1).select(*exprs)


def audit_row_empty_like(spark, **cols) -> DataFrame:
    """Zero-row frame with :func:`audit_row`'s schema — for audits whose
    oracle legitimately returns NO rows (e.g. a ``LIMIT 1`` over an
    empty census; found by the empty-table fuzz variant).  The keyword
    values only fix the column types."""
    return audit_row(spark, **cols).limit(0)
