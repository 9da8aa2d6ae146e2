"""The planned physical node tree of a DataFrame, and gates over it.

``plan_nodes(df)`` walks ``df``'s executed physical plan without running
the query and returns one ``Node`` per physical operator: its name, its
output column names and, for an Exchange, its partitioning. Names and
columns carry no expression ids, so the outline ``render`` prints is the
same text on every run of an unchanged plan.

A ``Gate`` is a predicate over those nodes that returns its faults (an
empty list when the plan holds); ``faults(nodes, gates)`` collects them.
``scripts/explain_audit.py`` declares the engine's plan shapes as lists of
gates; the gate kinds are:

- ``shuffles(n)``: exactly n shuffle Exchanges, the round-robin scan
  spread not counted;
- ``count(names, lo, hi)``, ``present(name)``, ``absent(*names)``: how
  many nodes have one of the given names;
- ``no_column(col, *names)``: no node (or no node of the given names)
  outputs column ``col``;
- ``partial_agg()``: an aggregate with a partial (map-side) step;
- ``partitioned(kind, lo, hi)``: how many Exchanges have the given
  partitioning;
- ``partition_filter(col)``: a file scan prunes partitions on ``col``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import DataFrame

# codegen wrappers: not operators of their own (formatted explain gives
# them no operator id), walked through to their child
_WRAPPERS = ("WholeStageCodegenExec", "InputAdapter")
_AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
JOINS = (
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


class Node(NamedTuple):
    depth: int
    name: str  # e.g. "Exchange", "Scan parquet", "ArrowEvalPython"
    output: tuple[str, ...]  # output column names
    partitioning: str = ""  # an Exchange's, e.g. "HashPartitioning"
    keys: tuple[str, ...] = ()  # its partitioning keys, as SQL
    partial: bool = False  # an aggregate running a Partial-mode step
    pruned_on: tuple[str, ...] = ()  # columns a file scan's partition filters read


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _walk(j, depth: int) -> Iterator[tuple[int, object]]:
    cls = j.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        # executedPlan() is the current plan; finalPhysicalPlan() would run
        # the query to finish it
        yield from _walk(j.executedPlan(), depth)
    elif cls.endswith("QueryStageExec"):
        yield from _walk(j.plan(), depth)
    elif cls in _WRAPPERS:
        yield from _walk(j.child(), depth)
    else:
        yield depth, j
        for c in _seq(j.children()) + _seq(j.subqueries()):
            yield from _walk(c, depth + 1)


def _node(depth: int, j) -> Node:
    name = j.nodeName().strip()  # a file scan's name ends in a space
    out = tuple(a.name() for a in _seq(j.output()))
    if name == "Exchange":
        p = j.outputPartitioning()
        kind = p.getClass().getSimpleName().rstrip("$")  # SinglePartition$
        keys = ()
        if kind in ("HashPartitioning", "RangePartitioning"):
            keys = tuple(e.sql() for e in _seq(p.children()))
        return Node(depth, name, out, kind, keys)
    if name in _AGGREGATES:
        modes = {a.mode().toString() for a in _seq(j.aggregateExpressions())}
        return Node(depth, name, out, partial="Partial" in modes)
    if j.getClass().getSimpleName() == "FileSourceScanExec":
        cols = {a.name() for f in _seq(j.partitionFilters()) for a in _seq(f.references().toSeq())}
        return Node(depth, name, out, pruned_on=tuple(sorted(cols)))
    return Node(depth, name, out)


def plan_nodes(df: DataFrame) -> list[Node]:
    """The physical operators of ``df``'s plan, parents before children,
    subquery plans under the node that uses them. Plans only: launches no
    Spark job (an adaptive plan is read as planned, before any stage
    runs)."""
    return [_node(d, j) for d, j in _walk(df._jdf.queryExecution().executedPlan(), 0)]


def render(nodes: list[Node]) -> str:
    """One line per node, indented by depth:
    ``name [partitioning(keys)] [(partial)] [col, ...]``."""
    lines = []
    for n in nodes:
        line = "  " * n.depth + n.name
        if n.partitioning:
            line += f" {n.partitioning}({', '.join(n.keys)})"
        if n.partial:
            line += " (partial)"
        lines.append(f"{line} [{', '.join(n.output)}]")
    return "\n".join(lines) + "\n"


class Gate(NamedTuple):
    desc: str
    faults: Callable[[list[Node]], list[str]]


def faults(nodes: list[Node], gates: list[Gate]) -> list[str]:
    """Every fault of every gate on ``nodes``, in gate order."""
    return [f for g in gates for f in g.faults(nodes)]


def _tally(desc: str, pred: Callable[[Node], bool], lo: int, hi: int | None) -> Gate:
    if hi == lo:
        desc += f" == {lo}"
    elif hi is None:
        desc += f" >= {lo}"
    else:
        desc += f" in [{lo}, {hi}]" if lo else f" <= {hi}"

    def faults(nodes: list[Node]) -> list[str]:
        k = sum(1 for n in nodes if pred(n))
        ok = lo <= k and (hi is None or k <= hi)
        return [] if ok else [f"{desc}: found {k}"]

    return Gate(desc, faults)


def count(names: str | tuple[str, ...], lo: int, hi: int | None = None) -> Gate:
    """Between ``lo`` and ``hi`` (None: no bound) nodes named one of
    ``names``."""
    names = (names,) if isinstance(names, str) else names
    return _tally(" | ".join(names), lambda n: n.name in names, lo, hi)


def present(name: str) -> Gate:
    return count(name, 1)


def absent(*names: str) -> Gate:
    return count(names, 0, 0)


def shuffles(n: int) -> Gate:
    """Exactly ``n`` shuffle Exchanges. A round-robin Exchange is not
    counted: it is ``partitioning.spread_scan``'s spread, which fires only
    when a scan yields fewer partitions than cores (always on single
    row-group test inputs, never at production partition counts)."""
    return _tally(
        "shuffle Exchange (round-robin spread not counted)",
        lambda x: x.name == "Exchange" and x.partitioning != "RoundRobinPartitioning",
        n,
        n,
    )


def partitioned(kind: str, lo: int, hi: int | None = None) -> Gate:
    """Between ``lo`` and ``hi`` (default: exactly ``lo``) Exchanges
    partitioned by ``kind``, e.g. ``"SinglePartition"`` (a global window
    or sort)."""
    return _tally(
        f"Exchange {kind}",
        lambda x: x.name == "Exchange" and x.partitioning == kind,
        lo,
        lo if hi is None else hi,
    )


def partition_filter(col: str) -> Gate:
    """A file scan whose partition filters read column ``col``: its
    partitions are pruned at planning."""
    return _tally(
        f"file scan pruning partitions on `{col}`", lambda x: col in x.pruned_on, 1, None
    )


def no_column(col: str, *names: str) -> Gate:
    """No node named one of ``names`` (any node, when none are given)
    outputs column ``col``; an Exchange's output is the rows it moves."""
    where = " | ".join(names) or "node"
    return _tally(
        f"{where} with a `{col}` column",
        lambda x: (not names or x.name in names) and col in x.output,
        0,
        0,
    )


def partial_agg() -> Gate:
    """An aggregate with a partial (map-side combine) step."""
    return _tally("partial aggregate", lambda x: x.partial, 1, None)
