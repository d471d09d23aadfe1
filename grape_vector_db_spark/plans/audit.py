"""Programmatic physical-plan audit — the library form of the checks
`tests/test_plans.py` pins and SCALE.md documents, so pipeline authors
can assert the plan properties their job depends on (zero shuffles, a
pushed filter, no cross join) in THEIR OWN tests instead of discovering
a regression at 100 TB.

Everything works on the executed-plan string; Spark exposes no stable
structured plan API in Python, and the string form is what the plan
tests in this repo already key on.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame

# node name at the head of a plan line, past the tree glyphs and the
# whole-stage-codegen id ("+- *(2) Project [...]" -> "Project")
_NODE_RE = re.compile(r"^[\s:+\-*]*(?:\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")
# every operator that ships rows to a Python worker: the row UDF
# evaluators (BatchEvalPython, ArrowEvalPython[UDTF]) and the Arrow /
# pandas batch operators (MapInArrow, MapInPandas, FlatMapGroupsInPandas,
# AggregateInPandas, ...)
_PYTHON_NODE_RE = re.compile(r"Python|InPandas|InArrow")


def plan_string(df: DataFrame) -> str:
    """Formatted executed physical plan (post-AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(df: DataFrame) -> Counter:
    """Occurrences of each physical operator in ``df``'s plan, keyed by
    node name (``Sort``, ``HashAggregate``, ``MapInArrow``, ...)."""
    return Counter(name for name, _ in _node_lines(plan_string(df)))


def _node_lines(p: str):
    for line in p.splitlines():
        m = _NODE_RE.match(line)
        if m:
            yield m.group(1), line


@dataclass(frozen=True)
class PlanAudit:
    """Counts of the plan features that matter at scale."""

    exchanges: int
    single_partition_exchanges: int
    broadcast_exchanges: int
    reused_exchanges: int
    sort_merge_joins: int
    broadcast_hash_joins: int
    nested_loop_joins: int
    cartesian_products: int
    scans: int
    pushed_filters: bool
    partition_filters: bool
    python_evals: int

    @property
    def shuffles(self) -> int:
        """Data-moving exchanges (broadcasts excluded — they ship a
        built table, not a repartition of the stream; ReusedExchange
        excluded — a reuse reads an already-shuffled output, it moves
        nothing new)."""
        return self.exchanges - self.broadcast_exchanges


def audit_plan(df: DataFrame) -> PlanAudit:
    """Inspect ``df``'s physical plan and count the properties a
    scale-review asks about. Typical assertions::

        a = audit_plan(my_pipeline)
        assert a.shuffles <= 2
        assert a.single_partition_exchanges == 0
        assert a.cartesian_products == 0 and a.python_evals == 0

    ``python_evals`` counts every Python boundary: row UDF evaluators
    and the Arrow/pandas batch operators (mapInArrow, mapInPandas,
    applyInPandas) alike.
    """
    p = plan_string(df)
    # per-scan flags: ANY scan carrying a non-empty list counts — a
    # whole-string check would false-negative whenever a second,
    # legitimately-unfiltered scan prints 'PushedFilters: []' (union or
    # join pipelines)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    parts = re.findall(r"PartitionFilters: \[([^\]]*)\]", p)
    # Classify exchanges by the NODE NAME at the head of each plan line,
    # not by substring over the whole string: a ReusedExchange node
    # contains 'Exchange' (and its simpleString repeats the reused
    # child's description, e.g. '... BroadcastExchange ...'), so naive
    # p.count() both inflates `exchanges` and misclassifies a reused
    # broadcast as a data-moving shuffle. AQE wrappers (ShuffleQueryStage,
    # AQEShuffleRead, BroadcastQueryStage) are deliberately NOT counted —
    # they re-describe an Exchange node that is itself printed on its own
    # line in the same plan.
    fresh_ex = broadcast_ex = reused_ex = single_ex = python = 0
    for name, line in _node_lines(p):
        if _PYTHON_NODE_RE.search(name):
            python += 1
        elif name == "ReusedExchange":
            reused_ex += 1
        elif name == "BroadcastExchange":
            broadcast_ex += 1
        elif name == "Exchange":
            fresh_ex += 1
            if "SinglePartition" in line:
                single_ex += 1
    return PlanAudit(
        exchanges=fresh_ex + broadcast_ex,
        single_partition_exchanges=single_ex,
        broadcast_exchanges=broadcast_ex,
        reused_exchanges=reused_ex,
        sort_merge_joins=p.count("SortMergeJoin"),
        broadcast_hash_joins=p.count("BroadcastHashJoin"),
        nested_loop_joins=p.count("BroadcastNestedLoopJoin"),
        cartesian_products=p.count("CartesianProduct"),
        scans=p.count("Scan parquet") + p.count("Scan orc"),
        pushed_filters=any(m.strip() for m in pushed),
        partition_filters=any(m.strip() for m in parts),
        python_evals=python,
    )
