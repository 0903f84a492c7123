"""Plan-inspection helpers: the engine's "is this the plan I'd want at
100 TB" checks, used by tests and the bench harness.

These read the *executed* plan (post-AQE) so broadcast decisions and
codegen fusion are what actually ran, not what was proposed."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_summary(df: DataFrame) -> dict:
    p = executed_plan(df)
    return {
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sort_merge_joins": p.count("SortMergeJoin"),
        "shuffles": p.count("Exchange hashpartitioning"),
        "wholestage_codegen_spans": len(set(re.findall(r"\*\((\d+)\)", p))),
        "python_stages": p.count("Python"),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", p)),
    }


def broadcast_hint_count(df: DataFrame) -> int:
    """Number of EXPLICIT broadcast hints in the optimized logical plan.

    Distinct from plan_summary's BroadcastHashJoin count: AQE choosing a
    broadcast at runtime because a side happens to be small is fine and
    size-safe; an F.broadcast() hint FORCES the broadcast at any scale.
    The 100 TB gate is therefore: no hint on any unbounded-cardinality
    side (dims are allowed — assert a specific count, not zero)."""
    p = df._jdf.queryExecution().optimizedPlan().toString()
    return p.count("strategy=broadcast")


def assert_pushdown(df: DataFrame, column: str) -> bool:
    """True iff a filter on ``column`` reached the parquet scan."""
    p = executed_plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    return bool(m and column in m.group(1))


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the source (column-pruning check).
    Parsed from the FileScan output list — the ReadSchema field is
    length-truncated in plan text."""
    p = executed_plan(df)
    m = re.search(r"FileScan \w+ \[([^\]]*)\]", p)
    if not m:
        return []
    return [c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()]


# nodes a bounded rank window's input may pass through between the
# WindowGroupLimit phases and the exchange: sorts, AQE stage/read wrappers
# and codegen wrappers move no rows across groups
_ROW_PRESERVING = {
    "SortExec", "AQEShuffleReadExec", "ShuffleQueryStageExec",
    "WholeStageCodegenExec", "InputAdapter", "ReusedExchangeExec",
}


def _children(node) -> list:
    """Physical children, looking through AQE wrappers to what ran."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _descend(node, want):
    """First node at or under ``node`` matching ``want``, following single
    children through row-preserving wrappers only (None otherwise)."""
    while True:
        if want(node):
            return node
        kids = _children(node)
        if node.getClass().getSimpleName() not in _ROW_PRESERVING or len(kids) != 1:
            return None
        node = kids[0]


def _exprs(seq) -> list[str]:
    return [seq.apply(i).toString() for i in range(seq.size())]


def _bounded(window) -> bool:
    """True iff ``window`` reads ``WindowGroupLimit Final`` over an
    ``Exchange hashpartitioning`` on the window's partition keys over
    ``WindowGroupLimit Partial``, with the same keys and order in both
    limit phases."""
    keys, order = _exprs(window.partitionSpec()), _exprs(window.orderSpec())

    def limit(mode):
        def want(n):
            return (n.getClass().getSimpleName() == "WindowGroupLimitExec"
                    and n.mode().toString() == mode
                    and _exprs(n.partitionSpec()) == keys
                    and _exprs(n.orderSpec()) == order)
        return want

    def exchange(n):
        if n.getClass().getSimpleName() != "ShuffleExchangeExec":
            return False
        part = n.outputPartitioning()
        return (part.getClass().getSimpleName() == "HashPartitioning"
                and sorted(_exprs(part.expressions())) == sorted(keys))

    final = _descend(_children(window)[0], limit("Final"))
    ex = final and _descend(_children(final)[0], exchange)
    return bool(ex and _descend(_children(ex)[0], limit("Partial")))


def window_bounds(df: DataFrame) -> list[bool]:
    """One flag per ``Window`` operator in ``df``'s executed plan (the final
    AQE plan once ``df`` has run), in tree order: True iff the window is a
    two-phase bounded top-k — ``WindowGroupLimit Final`` above an
    ``Exchange hashpartitioning`` on its partition keys above a
    ``WindowGroupLimit Partial``, with only sorts and stage/codegen wrappers
    between them. Such a window's task sorts at most limit x map-partitions
    rows per key, whatever the input size; a False window sorts every row of
    its partition key in one task."""
    flags, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "WindowExec":
            flags.append(_bounded(node))
        todo.extend(reversed(_children(node)))
    return flags
