"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload in one process (one Spark session on ``local[<cores>]``
and one closed-loop client) and prints, as its last stdout line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see BENCHMARK.json and perfbench/NOTES.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure as M  # noqa: E402
from inputs import CHECKOUT  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

sys.path.insert(0, CHECKOUT)


def units(kind: str) -> dict[str, str]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import changesetmd_spark  # noqa: F401  (fail before generating inputs)

    wl = WORKLOADS[name]()
    wl.prepare(seed)
    t0 = time.perf_counter()
    spark = M.build_session()
    session_s = time.perf_counter() - t0
    try:
        warm = wl.warm(spark)
        setup_s = time.perf_counter() - t0
        attempted, failed = wl.check(warm)
        M.log(f"session {session_s:.2f}s, set-up {setup_s:.2f}s, check {failed}/{attempted} wrong")
        wl.settle(spark)
        if trace:
            values = wl.trace(spark)
            values["session.build_s"] = session_s
        else:
            r = wl.timed(spark, seconds)
            attempted += r["ops"]
            failed += r["failed"]
            if r["pass_s"] is None:
                raise RuntimeError("every timed operation failed")
            values = {"setup_s": setup_s, "pass_s": r["pass_s"], "rows_per_s": r["rows_per_s"]}
    finally:
        wl.cleanup()
        M.stop_session(spark)
    unit = units("per_layer" if trace else "end_to_end")
    # a layer the workload never calls did no work on it: 0
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": unit[k]} for k in unit},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    M.keep_inside_checkout()
    print(json.dumps(run(args.workload, args.seed, args.seconds, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
