"""Physical-plan inspection helpers for the tests — make "did the filter
push down / did the join broadcast / how many shuffles" checkable
instead of eyeballed."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_summary(df: DataFrame) -> dict:
    plan = formatted_plan(df)
    lines = plan.splitlines()
    return {
        "n_exchanges": sum("Exchange" in ln and "Broadcast" not in ln
                           for ln in lines if ln.strip().startswith("(")),
        "n_broadcasts": sum("BroadcastExchange" in ln for ln in lines
                            if ln.strip().startswith("(")),
        "pushed_filters": [
            ln.split("PushedFilters:", 1)[1].strip()
            for ln in lines if "PushedFilters:" in ln
        ],
        "read_schemas": [
            ln.split("ReadSchema:", 1)[1].strip()
            for ln in lines if "ReadSchema:" in ln
        ],
        # pre-execution AQE plans hide codegen markers; AdaptiveSparkPlan
        # implies codegen stages materialize at runtime
        "wholestage_codegen": ("WholeStageCodegen" in plan)
        or ("AdaptiveSparkPlan" in plan),
    }


def assert_columns_pruned(df: DataFrame, allowed: set[str]) -> None:
    """Every parquet scan in the plan must read only `allowed` columns."""
    for schema in plan_summary(df)["read_schemas"]:
        cols = {
            c.split(":")[0]
            for c in schema.strip("struct<>").split(",") if c
        }
        extra = cols - set(allowed)
        assert not extra, f"scan reads unpruned columns: {extra}"


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = plan_summary(df)["n_exchanges"]
    assert got <= n, f"plan has {got} shuffles, expected <= {n}"
