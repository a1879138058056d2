#!/usr/bin/env python3
"""Time the headline queries under ``.count()`` and under a noop-sink write
on the same tree, and run the benchmark's plan self-check on both actions.

    python3 perfbench/count_vs_noop.py [--sf 0.1] [--reps 3]

``.count()`` lets column pruning drop every output expression the count
does not need, so it under-measures the queries; the noop sink consumes
every output column. The self-check (``batch.action_input_columns`` on the
plan a query-execution listener captured from the action itself) must
report no lost column under noop and every column under ``.count()``.
Prints one JSON object: per query, the median seconds under each action
and the output columns each action's plan lost.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import ROOT, WORK, isolate_env  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    work = os.path.join(WORK, f"count_vs_noop-{os.getpid()}")
    isolate_env(work)
    sys.path.insert(0, ROOT)
    import tables
    from batch import HEADLINE, NOOP_ACTION, PlanCapture, action_input_columns, noop_write

    from sea_streamer_spark.plans.queries import QUERIES
    from sea_streamer_spark.session import get_spark

    data = tables.write_tables(os.path.join(work, "data"), args.sf)
    spark = get_spark(app_name="perfbench-count-vs-noop")
    spark.sparkContext.setLogLevel("ERROR")
    actions = {
        "count": lambda df: df.count(),
        "noop": noop_write,
    }
    listener_names = {"count": "count", "noop": NOOP_ACTION}
    times: dict[str, dict[str, list[float]]] = {q: {a: [] for a in actions} for q in HEADLINE}
    for q in HEADLINE:  # warm-up
        for act in actions.values():
            act(QUERIES[q].fn(spark, data))
    for _ in range(args.reps):
        for name, act in actions.items():
            for q in HEADLINE:
                t0 = time.perf_counter()
                act(QUERIES[q].fn(spark, data))
                times[q][name].append(time.perf_counter() - t0)
    out = {}
    for q in HEADLINE:
        out[q] = {a: round(statistics.median(t), 4) for a, t in times[q].items()}
        for name, act in actions.items():
            capture = PlanCapture(spark)
            df = QUERIES[q].fn(spark, data)
            act(df)
            (qe,) = capture.wait(listener_names[name], 1)
            capture.close()
            out[q][f"{name}_plan_lost"] = sorted(set(df.columns) - set(action_input_columns(spark, qe)))
    totals = {a: round(sum(v[a] for v in out.values()), 4) for a in actions}
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"sf": args.sf, "reps": args.reps, "total": totals,
                      "queries": out}, indent=1))


if __name__ == "__main__":
    main()
