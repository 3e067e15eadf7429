"""Physical-plan audits — assert the plans we *designed for* are the plans
Catalyst actually produces. Used by tests and by `.explain` spot checks:

- filters/projections reach the parquet scan (PushedFilters / ReadSchema);
- the wave side of the fetch join is broadcast (no pages shuffle);
- python UDF stages are Arrow-vectorized (ArrowEvalPython, never
  BatchEvalPython — the row-at-a-time fallback);
- a plan contains no more shuffles than budgeted.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # pragma: no cover
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """The filters the parquet source accepted for row-group pruning."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """The predicates applied as hive-partition pruning at the source —
    directories these reject are never opened, let alone scanned."""
    out = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", physical_plan(df)):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from parquet (column pruning evidence)."""
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", physical_plan(df)):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def count_occurrences(df: DataFrame, token: str) -> int:
    return physical_plan(df).count(token)


def has_broadcast_join(df: DataFrame) -> bool:
    return count_occurrences(df, "BroadcastHashJoin") > 0


def shuffle_count(df: DataFrame) -> int:
    """Exchange nodes = shuffle boundaries (excluding broadcast exchanges)."""
    plan = physical_plan(df)
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))


def uses_arrow_udfs_only(df: DataFrame) -> bool:
    """True when every python eval node is Arrow-vectorized."""
    plan = physical_plan(df)
    return "BatchEvalPython" not in plan


def wholestage_codegen_ids(df: DataFrame) -> int:
    """Number of whole-stage codegen regions (wider is better — a region
    that failed to compile falls back and disappears from this count)."""
    return len(set(re.findall(r"\*\((\d+)\)", physical_plan(df))))


def python_eval_nodes(df: DataFrame) -> list[str]:
    """One line per distinct python-eval node (ArrowEvalPython,
    BatchEvalPython, ...) a run of ``df`` would evaluate, counting the plans
    of cached relations it reads: a cached frame read by several branches
    is one node, its plan is walked once."""
    jvm = df._sc._jvm
    out, seen = [], set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        key = jvm.System.identityHashCode(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.nodeName()
        if name.endswith("EvalPython"):
            out.append(node.simpleString(200))
        # AQE wrappers hold their plans outside children/innerChildren
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out
