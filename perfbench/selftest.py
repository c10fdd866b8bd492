"""Self-test of the benchmark's own guarantees, on the real inputs.

    python3 perfbench/selftest.py

1. The timed tile_pipeline pass (noop sink) executes the S2 Arrow UDF
   and the tile aggregate; ``count()`` on the same DataFrame may prune
   both (reported, not asserted: that is Catalyst's choice).
2. Every timed pass runs on a fresh plan: rerunning an action on one
   DataFrame reuses its materialized AQE stages, while the
   benchmark's passes run every stage again.
3. A wrong answer is counted: each workload's check is fed a
   perturbed copy of a correct result and must report it.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure as M  # noqa: E402
from inputs import CHECKOUT  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'}: {what}", flush=True)
    if not ok:
        FAILURES.append(what)


def plan_checks(spark, tile) -> None:
    M.noop(tile.build(spark))
    plan = M.last_sql_plan(spark)
    expect("ArrowEvalPython" in plan, "noop pass plan contains the S2 ArrowEvalPython stage")
    expect("HashAggregate" in plan and "approx_count_distinct" in plan,
           "noop pass plan contains the per-box tile aggregate")
    tile.build(spark).count()
    pruned = "ArrowEvalPython" not in M.last_sql_plan(spark)
    print(f"INFO: count() {'prunes' if pruned else 'keeps'} the S2 stage", flush=True)


def fresh_plan_checks(spark, tile) -> None:
    same = tile.build(spark)
    with M.StageWindow(spark) as first:
        t_first = M.timed(same.collect)[0]
    with M.StageWindow(spark) as again:
        t_again = M.timed(same.collect)[0]
    print(f"INFO: collect() on one DataFrame: {t_first:.2f}s then {t_again:.2f}s, "
          f"stages run {first.stages_run} then {again.stages_run}", flush=True)
    expect(again.stages_run < first.stages_run,
           "rerunning an action on one DataFrame reuses its query stages")
    a, b = tile.build(spark), tile.build(spark)
    expect(a is not b and not a._jdf.queryExecution().equals(b._jdf.queryExecution()),
           "each pass builds its own DataFrame and QueryExecution")
    runs = []
    for _ in range(2):
        with M.StageWindow(spark) as w:
            tile.timed_op(spark)
        runs.append(w.stages_run)
    expect(runs[1] == runs[0] >= first.stages_run - 1,
           f"fresh passes run every stage each time (stages run: {runs})")


def wrong_answer_checks(spark, tile, mix, repl) -> None:
    got = tile.warm(spark)
    expect(tile.check(got) == (1, 0), "tile_pipeline: the correct answer passes")
    bad = got.copy()
    bad.loc[bad.index[0], "n_images"] += 1
    expect(tile.check(bad)[1] == 1, "tile_pipeline: one miscounted box is a failure")

    got = mix.warm(spark)
    expect(mix.check(got) == (len(mix.order), 0), "query_mix: the correct answers pass")
    g = mix.order[0]
    bad = dict(got, **{g: got[g].iloc[1:]})
    expect(mix.check(bad)[1] == 1, f"query_mix: a missing {g} row is a failure")

    replay = repl.warm(spark)
    expect(repl.check(replay)[1] == 0, "replication: the correct state passes")
    other = dict(replay, seqs=[s + 1 for s in replay["seqs"]])
    expect(repl.check(other)[1] == 1, "replication: the state of another sequence is a failure")


def main() -> int:
    M.keep_inside_checkout()
    sys.path.insert(0, CHECKOUT)
    from workloads import QueryMix, Replication, TilePipeline

    seed = 7
    tile, mix, repl = TilePipeline(), QueryMix(), Replication()
    for wl in (tile, mix, repl):
        wl.prepare(seed)
    spark = M.build_session()
    t = time.perf_counter()
    try:
        plan_checks(spark, tile)
        fresh_plan_checks(spark, tile)
        wrong_answer_checks(spark, tile, mix, repl)
    finally:
        repl.cleanup()
        M.stop_session(spark)
    print(f"{len(FAILURES)} failure(s) in {time.perf_counter() - t:.0f}s", flush=True)
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
