"""Plan-quality audits: machine-checkable scale posture.

"Would this plan survive 100×?" is checkable from the physical plan:
filters must reach the parquet scan (row-group/page skipping), small
dimensions must broadcast (no shuffle of the fact table for a 25-row
join), equi-joins must never degrade to cartesian products, and the hot
expression path must sit inside whole-stage codegen. These helpers
extract those properties so tests/test_plans.py can pin them — a plan
regression then fails CI exactly like a wrong answer would.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections.abc import Callable

from pyspark.sql import DataFrame

from mapr_plugins_spark.session import sql_conf


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    """The query plan as text (``df.explain`` output captured)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> str:
    """Concatenated ``PushedFilters`` entries of every file scan."""
    return "\n".join(
        line.strip() for line in plan_str(df).splitlines() if "PushedFilters" in line
    )


def read_schemas(df: DataFrame) -> str:
    """Concatenated ``ReadSchema`` entries of every file scan (column
    pruning check: a 2-column projection must not read 11 columns)."""
    return "\n".join(
        line.strip() for line in plan_str(df).splitlines() if "ReadSchema" in line
    )


def count_nodes(df: DataFrame, node: str) -> int:
    """Occurrences of a physical node (e.g. ``BroadcastHashJoin``,
    ``Exchange``, ``CartesianProduct``): counted from the formatted
    plan's detail headers ``(N) NodeName`` so tree+detail double-listing
    doesn't double-count."""
    return len(re.findall(rf"^\(\d+\) {re.escape(node)}\b", plan_str(df), re.MULTILINE))


def has_broadcast_join(df: DataFrame) -> bool:
    return count_nodes(df, "BroadcastHashJoin") > 0 or count_nodes(df, "BroadcastNestedLoopJoin") > 0


def has_cartesian(df: DataFrame) -> bool:
    p = plan_str(df)
    return "CartesianProduct" in p or "BroadcastNestedLoopJoin" in p


def codegen_span_count(build: Callable[[], DataFrame]) -> int:
    """Number of whole-stage-codegen spans (want: few, wide).

    Takes a *builder* because codegen ids only appear on a finalized
    physical plan: AQE is briefly disabled, the plan rebuilt, and the
    ``*(n)`` span markers counted from the executed-plan string."""
    import pyspark.sql.functions as F  # noqa: F401  (builders often need it)

    probe = build()
    # disable AQE AFTER the build: builders route through
    # catalog.table → pin_runtime_conf, which (re)enables AQE, and
    # an adaptive plan carries no finalized codegen ids. The
    # executedPlan lazy val reads the conf at first access, so
    # rebuilding under the disabled flag yields the static plan.
    df = build()
    with sql_conf(probe.sparkSession, {"spark.sql.adaptive.enabled": "false"}):
        plan = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange nodes — every one is a full network pass over
    its input at scale; audits pin an upper bound per operator."""
    return count_nodes(df, "Exchange")
