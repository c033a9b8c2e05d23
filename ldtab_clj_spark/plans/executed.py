"""What an action ran: its Spark jobs and AQE's final plans, read from
the SQL status store (so a write's plan too, which no DataFrame shows).
For plan-shape tests and ``tools/explain_audit.py``; no runtime path
calls it."""

from __future__ import annotations

import functools
import uuid
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import SparkSession

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass(eq=False, frozen=True)
class PlanNode:
    """A physical operator: node name (``Exchange``…), one-line
    description and inputs. Query stages and codegen clusters are
    unwrapped; a reused exchange is one node under each reader."""
    name: str
    desc: str
    children: tuple[PlanNode, ...]

    def walk(self) -> Iterator[PlanNode]:
        """This node and all below it, as a plan string lists them: a
        reused exchange once per reader, its subtree once."""
        seen, stack = set(), [self]
        while stack:
            node = stack.pop()
            yield node
            if id(node) not in seen:
                seen.add(id(node))
                stack.extend(reversed(node.children))


@dataclass(frozen=True)
class Executed:
    result: Any             # what the action returned
    jobs: list[int]         # the Spark jobs it ran
    plans: list[PlanNode]   # final plan per SQL execution it ran, in order

    def nodes(self) -> list[PlanNode]:
        return [n for plan in self.plans for n in plan.walk()]


def _items(seq) -> list:
    """A Scala ``Seq`` (through py4j) as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _tree(graph) -> PlanNode:
    """A ``SparkPlanGraph`` → its root node."""
    nodes = {n.id(): n for n in _items(graph.allNodes())
             if n.getClass().getSimpleName() != "SparkPlanGraphCluster"}
    edges = [(e.fromId(), e.toId()) for e in _items(graph.edges())]

    @functools.cache
    def build(i):   # edges run child → parent
        return PlanNode(nodes[i].name(), nodes[i].desc(),
                        tuple(build(c) for c, p in edges if p == i))

    (root,) = set(nodes) - {c for c, _ in edges}
    return build(root)


def executed(spark: SparkSession, action: Callable[[], Any]) -> Executed:
    """Run ``action`` under a job group of its own, restore the
    caller's group, and report what the action ran."""
    sc = spark.sparkContext
    old = [sc.getLocalProperty(k) for k in _GROUP_PROPS]
    group = f"executed-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        for key, value in zip(_GROUP_PROPS, old):
            sc.setLocalProperty(key, value)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    runs = _items(store.executionsList()) if jobs else []
    ids = sorted(e.executionId() for e in runs
                 if any(map(e.jobs().contains, jobs)))
    return Executed(result, jobs, [_tree(store.planGraph(i)) for i in ids])
