"""Counts read from the executed plan of a Dataset that has already run.

Spark keeps every physical operator's SQL metrics on the plan that
executed, so a count can be read after the action with no extra job
and no change to the plan that ran. The metrics belong to the Dataset
whose action ran: ``df.count()`` builds and runs a new Dataset, so a
caller that wants ``count()``'s plan and its metrics runs
``agg = df.groupBy().count(); agg.collect()`` (the plan ``count()``
builds) and reads ``agg``.

Usage::

    agg = simhash_pairs(docs).groupBy().count()
    n_pairs = agg.collect()[0][0]
    n_candidates = lsh_candidates(agg)

``driver_calls()`` measures the other side: the py4j commands the
Python driver sends to the JVM while it builds a DataFrame, before any
job runs::

    with driver_calls() as calls:
        df = minhash_lsh_pairs(docs)
    print(calls.n, calls.s)
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from py4j import protocol
from py4j.java_gateway import GatewayClient
from pyspark.sql import DataFrame

# leading join key of the banded-LSH bucket self-joins: ``band`` from
# dedup.band_keys / dedup.minhash_bands, ``bucket`` from
# similarity.lsh_table_keys
_LSH_KEYS = frozenset({"band", "bucket"})
_JOINS = frozenset({"SortMergeJoinExec", "BroadcastHashJoinExec", "ShuffledHashJoinExec"})
# py4j's garbage_collect_object command: release a Java object
_MEMORY_DELETE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


def executed_nodes(df: DataFrame):
    """Yield every operator of ``df``'s executed plan, descending into
    adaptive query stages. A reused exchange is skipped: its operators
    ran once, under the exchange it reuses. Raises if the adaptive plan
    is not final, i.e. ``df`` itself never ran an action (every metric
    would read 0)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "ReusedExchangeExec":
            continue
        if name == "AdaptiveSparkPlanExec":
            if not node.isFinalPlan():
                raise RuntimeError(
                    "adaptive plan is not final: run the action on this "
                    "DataFrame (e.g. df.groupBy().count().collect()), not on a new one"
                )
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        yield node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def operators(df: DataFrame, *names: str) -> list:
    """The operators of ``df``'s executed plan whose class is one of
    ``names`` (e.g. ``"FileSourceScanExec"``), as ``executed_nodes``
    walks them. Read an operator's SQL metric with
    ``node.metrics().apply("numFiles").value()``."""
    return [n for n in executed_nodes(df) if n.getClass().getSimpleName() in names]


def _leading_key(join) -> str | None:
    key = join.leftKeys().head()
    if key.getClass().getSimpleName() != "AttributeReference":
        return None
    return key.name()


def lsh_candidates(df: DataFrame) -> int:
    """Rows out of the banded-LSH bucket self-join in ``df``'s executed
    plan, before any distinct. The join is the one whose leading key is
    ``band`` or ``bucket``; raises unless there is exactly one.

    The count is taken after the residual condition Catalyst puts in
    the join. For MinHash and embedding LSH that is only the id order
    a < b, so every bucket collision counts: Σ C(n, 2) over the
    buckets. For the hamming families (SimHash, phash) the optimizer
    also moves the hamming refine into the join, so the count is the
    band matches within the bound; random collisions do not show."""
    joins = [n for n in operators(df, *_JOINS) if _leading_key(n) in _LSH_KEYS]
    if len(joins) != 1:
        raise ValueError(f"expected one band/bucket join in the executed plan, found {len(joins)}")
    return int(joins[0].metrics().apply("numOutputRows").value())


@dataclass
class DriverCalls:
    """py4j commands sent inside a ``driver_calls()`` block: ``n``
    commands taking ``s`` seconds of wall time, reply included."""

    n: int = 0
    s: float = 0.0


@contextmanager
def driver_calls() -> Iterator[DriverCalls]:
    """Count the py4j commands this process sends to the JVM inside the
    block, from every thread, and their wall time. Each Column call,
    each eager analysis and each origin-capture set/clear is one
    command, so the count is the driver-side cost of building a plan.

    Memory-delete commands are left out: py4j sends one when a Python
    JavaObject is finalized, and CPython's garbage collector decides
    when that happens, so inside a block they mostly release objects
    built before it.

    Wraps ``GatewayClient.send_command``, through which both py4j
    client modes send every command, and restores it on exit, also when
    the block raises. Blocks nest: each counts its own commands."""
    calls = DriverCalls()
    send = GatewayClient.send_command

    def counted(self, command, *args, **kwargs):
        if command.startswith(_MEMORY_DELETE):
            return send(self, command, *args, **kwargs)
        t = time.perf_counter()
        try:
            return send(self, command, *args, **kwargs)
        finally:
            calls.n += 1
            calls.s += time.perf_counter() - t

    GatewayClient.send_command = counted
    try:
        yield calls
    finally:
        GatewayClient.send_command = send
