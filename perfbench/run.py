#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run makes its inputs from ``--seed``,
sets up a Spark session through the package's own ``get_spark``, measures
its workload for ``--seconds`` seconds, checks every result, and prints as
its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything it writes stays under
``.perfbench_work/`` in the repository root; the per-run artifact (host
state, sample counts, spans) goes to ``.perfbench_work/artifacts/``.
Workloads and metrics are described in ``perfbench/README.md``.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("batch_headline", "batch_llm_ops", "wire_relay", "stream_ratelimit")


def isolate_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work`` and
    put the package on the Python workers' path (streaming Python
    DataSources run in a worker that does not see the shipped zip)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise keep its monitoring file in
    # /tmp/hsperfdata_<user>, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


class Run:
    """State shared by a workload: arguments, tracer, process sampler,
    counts of attempted and failed operations, and the artifact."""

    def __init__(self, args, work: str):
        from host import ProcSampler, cpu_probe_ms, stat_snapshot
        from spans import Tracer

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.traced, f"{args.workload}-{args.seed}-{args.trace}")
        self.sampler = ProcSampler().start()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.artifact: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": {"nproc": len(os.sched_getaffinity(0)), "cpu_probe_ms_start": cpu_probe_ms()},
        }
        self._stat0 = stat_snapshot()
        self.spark = None
        self.setup_parts: dict[str, float] = {}

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)

    # ---------------------------------------------------------------- spark
    def start_spark(self) -> None:
        """Cold start: JVM launch, session, first job."""
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            from sea_streamer_spark.session import get_spark

            self.spark = get_spark(app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).collect()
        self.setup_parts["jvm_start_s"] = time.perf_counter() - t0

    def restart_sessions(self, n: int = 3) -> None:
        """Stop and rebuild the session ``n`` times on the running JVM; the
        median is the repeated part of ``setup_s`` (a JVM launch costs too
        much to repeat within one run)."""
        from sea_streamer_spark.session import get_spark

        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            with self.tracer.span("session.restart"):
                self.spark.stop()
                self.spark = get_spark(app_name="perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
            times.append(time.perf_counter() - t0)
        self.setup_parts["session_restart_s"] = statistics.median(times)
        self.artifact["session_restart_s_samples"] = times

    def more(self, t_start: float, done: list[float], nominal_s: float, limit: float = 6.0) -> bool:
        """Whether to start another repetition. A run makes a fixed number
        of repetitions, ``--seconds`` over the repetition's nominal length,
        so every run does the same work; it stops early only if the next
        one would end past ``limit`` times ``--seconds``, which keeps a run
        on a badly contended host within its time limit (a batch pass took
        up to 16 s at 38% steal)."""
        target = max(1, int(self.seconds / nominal_s + 0.5))
        if not done:
            return True
        elapsed = time.perf_counter() - t_start
        return len(done) < target and elapsed + done[-1] < limit * self.seconds

    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    def close(self) -> None:
        """Stop the session and the JVM, then wait until every process the
        run started has ended, killing any that outlive a grace period."""
        import signal
        import subprocess

        from host import live_descendants

        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        for grace, kill in ((30.0, True), (10.0, False)):
            deadline = time.time() + grace
            while live_descendants(os.getpid()) and time.time() < deadline:
                time.sleep(0.1)
            for pid in live_descendants(os.getpid()) if kill else ():
                os.kill(pid, signal.SIGKILL)
        self.sampler.stop()

    # --------------------------------------------------------------- output
    def finish(self) -> dict:
        from host import cpu_probe_ms, stat_snapshot, steal_share
        from metrics import load_spec

        end_to_end, per_layer = load_spec()
        self.sampler.stop()
        self.e2e["setup_s"] = self.setup_s()
        if self.traced:
            # a layer the workload does not pass through did no work: 0
            self.layer = {
                **{k: 0.0 for k in per_layer},
                **self.layer,
                "session.start_s": self.setup_parts["jvm_start_s"],
                "session.peak_rss_mb": self.sampler.peak_rss / 2**20,
            }
        self.artifact["host"].update(
            {
                "cpu_probe_ms_end": cpu_probe_ms(),
                "steal_share": steal_share(self._stat0, stat_snapshot()),
                "proc_samples": self.sampler.samples,
                "peak_rss_mb": self.sampler.peak_rss / 2**20,
                "peak_rss_mb_by_kind": {
                    k: v / 2**20 for k, v in self.sampler.peak_rss_by_kind.items()
                },
            }
        )
        self.artifact.update(
            setup_parts=self.setup_parts,
            end_to_end=self.e2e,
            per_layer=self.layer,
            sample_counts=self.samples,
            attempted=self.attempted,
            failed=self.failed,
            error_rate=self.failed / max(1, self.attempted),
            problems=self.problems,
        )
        correct = self.failed == 0 and not self.problems and self.attempted > 0
        wanted = per_layer if self.traced else end_to_end
        source = self.layer if self.traced else self.e2e
        missing = [k for k in wanted if k not in source]
        if missing:
            self.problems.append(f"metrics not measured: {missing}")
            correct = False
        self._write_artifact()
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(source.get(k, 0.0)), "unit": u} for k, u in wanted.items()},
        }

    def _write_artifact(self) -> None:
        adir = os.path.join(WORK, "artifacts")
        os.makedirs(adir, exist_ok=True)
        stem = os.path.join(adir, f"{self.args.workload}-seed{self.seed}-trace{self.args.trace}")
        if self.traced:
            self.tracer.write(stem + ".spans.jsonl")
            untraced = stem.replace("-trace1", "-trace0") + ".json"
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    base = json.load(fh)["end_to_end"]
                self.artifact["tracing_overhead"] = {
                    k: self.e2e[k] - base[k] for k in base if k in self.e2e
                }
        with open(stem + ".json", "w") as fh:
            json.dump(self.artifact, fh, indent=1, sort_keys=True, default=str)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sea_streamer_spark", "session.py")):
        print("perfbench: run from a checkout that holds sea_streamer_spark/", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    isolate_env(work)
    sys.path.insert(0, ROOT)
    run = Run(args, work)
    try:
        if args.workload.startswith("batch_"):
            import batch

            batch.measure(run, args.workload)
        elif args.workload == "wire_relay":
            import wire

            wire.measure(run)
        else:
            import stream

            stream.measure(run)
        result = run.finish()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    summary = {k: round(v, 4) for k, v in (run.layer if run.traced else run.e2e).items()}
    print(
        f"perfbench {args.workload} seed={args.seed}: "
        f"error_rate={run.artifact['error_rate']:.6f} ratio "
        f"(failed {run.failed} of {run.attempted}); samples {run.samples}; "
        f"steal {run.artifact['host']['steal_share']:.3f}; {summary}"
        + (f"; problems: {run.problems}" if run.problems else "")
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
