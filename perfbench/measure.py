"""Measurement helpers: the session, the sinks, the plan walk and the
store spans. Everything here observes the program from outside,
through public Spark handles; nothing patches engine modules.

- ``noop(df)``: the timed sink. Every output column is computed, no
  row leaves the executors, and ``count()``'s column pruning cannot
  apply.
- ``materialize(df)``: the traced sink. It runs the DataFrame's own
  ``QueryExecution`` to completion (same physical plan as the noop
  write, minus the write node) so its executed plan keeps the SQL
  metrics that ``plan_nodes`` reads back.
- ``StageWindow``: shuffle and spill bytes of every stage a block of
  work ran, from the core status store (raw longs, not UI strings).
- ``Spans``: wraps methods of one object and records each call's self
  time (its wall time minus nested wrapped calls).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import defaultdict

from inputs import CACHE, CHECKOUT


def log(msg: str) -> None:
    """Diagnostics go to stderr; stdout's last line is the result."""
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def keep_inside_checkout() -> None:
    """Point every scratch directory Spark or Python uses at the
    checkout's cache, and let the Python workers import the engine."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(CACHE, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )


def build_session():
    """The engine's session with its own defaults, no registry warmup.
    Only the JVM temp dir is redirected into the checkout."""
    from changesetmd_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        warmup=False,
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM this process launched and wait for
    it to exit (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df) -> int:
    """Run ``df``'s own plan to completion; returns its row count."""
    return int(df._jdf.queryExecution().toRdd().count())


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t, out


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status stores are complete for the work already finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, SQL metrics) of every operator of ``df``'s executed
    plan, after an action on ``df`` itself. AQE query stages
    (``ShuffleQueryStage``, ``BroadcastQueryStage``, ``ResultQueryStage``)
    are leaves of the adaptive plan; the walk descends into their
    ``plan()``, and into the adaptive plan's current physical plan, or
    it would stop at the first stage boundary and read nothing."""
    nodes: list[tuple[str, dict[str, int]]] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):  # Shuffle, Broadcast, Result, ...
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        nodes.append((node.nodeName(), _metrics(node)))
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return nodes


def plan_phase_s(df) -> float:
    """Time of the analysis, optimization and planning phases
    recorded by ``df``'s query tracker."""
    phases = df._jdf.queryExecution().tracker().phases().iterator()
    ms = 0
    while phases.hasNext():
        ms += phases.next()._2().durationMs()
    return ms / 1000.0


def last_sql_plan(spark) -> str:
    """Physical-plan text of the most recent SQL execution (any
    action, the noop write included), from the SQL status store."""
    drain(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).physicalPlanDescription()


class StageWindow:
    """Sum of shuffle-write and spill bytes over the stages that ran
    between ``__enter__`` and ``__exit__``."""

    def __init__(self, spark):
        self.spark = spark
        self.shuffle_bytes = 0
        self.spill_bytes = 0
        self.stages_run = 0  # stages that ran tasks (not skipped)

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        store = self.spark.sparkContext._jsc.sc().statusStore()
        empty = gw.jvm.java.util.ArrayList()
        return store.stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)

    def __enter__(self):
        drain(self.spark)
        it = self._stages().iterator()
        self._seen = set()
        while it.hasNext():
            s = it.next()
            self._seen.add((s.stageId(), s.attemptId()))
        return self

    def __exit__(self, *exc):
        drain(self.spark)
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if (s.stageId(), s.attemptId()) in self._seen:
                continue
            self.stages_run += s.status().toString() == "COMPLETE"
            self.shuffle_bytes += int(s.shuffleWriteBytes())
            self.spill_bytes += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        return False


class Spans:
    """Per-method call counts and self times for the wrapped methods of
    one or more objects. A call nested inside another wrapped call is
    subtracted from its parent's self time."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.self_s: dict[str, float] = defaultdict(float)
        self._stack: list[list[float]] = []

    def wrap(self, obj, names: list[str], label: str = "") -> None:
        for name in names:
            setattr(obj, name, self._wrapped(getattr(obj, name), label + name))

    def _wrapped(self, fn, key: str):
        def call(*args, **kwargs):
            self._stack.append([0.0])
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t
                nested = self._stack.pop()[0]
                if self._stack:
                    self._stack[-1][0] += dt
                self.calls[key] += 1
                self.self_s[key] += dt - nested

        return call

    def total_self(self) -> float:
        return sum(self.self_s.values())
