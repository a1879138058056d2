"""Batch workloads: closed loop, one client, registered queries.

The queries read the project's fixed test tables (TESTDATA.md), regenerated
by ``tables.py`` from their own seed at scale 0.1; ``--seed`` does not
change them. A warm-up pass collects every result, untimed checks compare
each with its DuckDB oracle (``tests/oracle.py``), a second warm-up pass
writes every result to the noop sink, then the measured passes run every
query of the workload's list in order: the query function builds
the DataFrame (``plans`` build layer, which may run eager Spark jobs), and
``df.write.format("noop")`` materializes every output column of the result.
A query-execution listener captures the plan of each timed write, and a
self-check fails the run if a write's input lacks any output column of its
query.
"""

from __future__ import annotations

import os
import re
import statistics
import time
import traceback
from collections import defaultdict

#: The ten ``bench``-tagged registered queries, fixed here so that tagging
#: another query does not silently change the workload.
HEADLINE = (
    "dedup_minhash_lsh",
    "q18_large_orders",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "similarity_cosine_topk",
    "text_fingerprint",
    "text_token_stats",
    "window_tumbling_1h",
)

#: LLM-pipeline queries: one whose build runs 26 eager Spark jobs and one
#: that runs 21 jobs at execute. See README.md for the queries left out and
#: why.
LLM_OPS = (
    "dedup_keep_longest_per_cluster",
    "quality_selection_tradeoff",
)

#: name -> (queries, scale factor of the test tables, nominal pass s).
#: A headline pass takes 6-8 s on a quiet 4-core host; its nominal 2 s
#: gives 5 passes at ``--seconds 10``, so that one slow pass does not move
#: the median.
WORKLOADS = {
    "batch_headline": (HEADLINE, 0.1, 2.0),
    "batch_llm_ops": (LLM_OPS, 0.01, 6.0),
}

_NODE = re.compile(r"^[\s:+\-|]*([A-Za-z]+)")


def _plan_nodes(plan_text: str) -> list[str]:
    return [m.group(1) for m in map(_NODE.match, plan_text.splitlines()) if m]


def _scala_list(spark, seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class PlanCapture:
    """A ``QueryExecutionListener``, served through the py4j callback
    server, that keeps ``(action name, QueryExecution)`` of every action
    the session completes while it is registered."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.done: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        self.done.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):
        self.done.append((func_name, None))

    def wait(self, action: str, n: int, timeout: float = 30.0) -> list:
        """QueryExecutions of the first ``n`` captured actions named
        ``action``, in the order they ran (listener events arrive
        asynchronously, in order, after the action has returned). Actions a
        query runs while it is built have other names."""
        deadline = time.time() + timeout
        while True:
            got = [qe for name, qe in self.done if name == action]
            if len(got) >= n or time.time() > deadline:
                return got[:n]
            time.sleep(0.01)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)


def action_input_columns(spark, qe) -> list[str]:
    """Columns that reach the root of an action's optimized plan: the
    query a write command writes, or the input of the aggregate that
    ``count()`` runs."""
    root = qe.optimizedPlan()
    child = _scala_list(spark, root.children())[0]
    return [a.name() for a in _scala_list(spark, child.output())]


#: the action name a query-execution listener reports for ``noop_write``
NOOP_ACTION = "overwrite"


def noop_write(df) -> None:
    """The timed action: write every row and column to the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def _jobs_stages_tasks(sc, group: str) -> tuple[int, int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            sinfo = st.getStageInfo(sid)
            if sinfo is not None and sinfo.numTasks:
                stages += 1
                tasks += sinfo.numTasks
                failed += sinfo.numFailedTasks
    return len(jobs), stages, tasks, failed


def _traced_query(run, spark, name: str, fn, data: str, tag: str, layers: dict):
    sc = spark.sparkContext
    tr = run.tracer
    with tr.span("plans.build", query=name):
        sc.setJobGroup(f"{tag}-build", name)
        t0 = time.perf_counter()
        df = fn(spark, data)
        layers["plans.build_s"] += time.perf_counter() - t0
    layers["plans.build_jobs"] += _jobs_stages_tasks(sc, f"{tag}-build")[0]
    with tr.span("plans.plan", query=name):
        qe = df._jdf.queryExecution()
        text = qe.executedPlan().toString()
        phases = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        layers["plans.plan_s"] += sum(phases.get(k).durationMs() for k in phases.keySet()) / 1e3
    nodes = _plan_nodes(text)
    layers["plans.exchanges"] += sum(n.endswith("Exchange") for n in nodes)
    layers["sources.file_scans"] += sum(n in ("FileScan", "BatchScan") for n in nodes)
    with tr.span("plans.exec", query=name):
        sc.setJobGroup(f"{tag}-exec", name)
        t0 = time.perf_counter()
        noop_write(df)
        layers["plans.exec_s"] += time.perf_counter() - t0
    jobs, stages, tasks, failed = _jobs_stages_tasks(sc, f"{tag}-exec")
    layers["plans.exec_jobs"] += jobs
    layers["plans.stages"] += stages
    layers["plans.tasks"] += tasks
    layers["plans.failed_tasks"] += failed
    sc.setJobGroup("perfbench-idle", "idle")
    return df


def _warm_up_and_check_oracle(run, spark, names, fns, data: str) -> None:
    """Warm-up pass that collects every result (timed as set-up), then each
    result compared with its DuckDB oracle (untimed)."""
    from tests.oracle import compare_frames, duck_connection

    from sea_streamer_spark.plans.queries import QUERIES

    got = {}
    t0 = time.perf_counter()
    for name in names:
        run.attempted += 1
        try:
            got[name] = fns[name](spark, data).toPandas()
        except Exception:  # a query that raises is a failed operation
            run.fail(1, f"{name} raised:\n{traceback.format_exc(limit=-3)}")
    run.setup_parts["warmup_s"] = time.perf_counter() - t0
    con = duck_connection(data)
    try:
        for name, pdf in got.items():
            try:
                compare_frames(pdf, con.sql(QUERIES[name].oracle).df(), name)
            except AssertionError as e:
                run.fail(1, f"oracle mismatch: {str(e)[:300]}")
    finally:
        con.close()


def _warm_noop_pass(run, spark, names, fns, data: str) -> None:
    """One untimed pass of noop writes, counted as set-up. After the cold
    pass the JIT is still compiling, and the next passes speed up by 10-25%;
    without it the median of the timed passes depends on how far that has
    got. A query that raises here fails again in the timed passes, where it
    is counted."""
    t0 = time.perf_counter()
    for name in names:
        try:
            noop_write(fns[name](spark, data))
        except Exception:
            pass
    run.setup_parts["warmup_s"] += time.perf_counter() - t0


def _self_check(run, spark, capture, written: list) -> None:
    """Fail the run unless the plan of every timed write takes every output
    column of its query. ``written`` holds (query, DataFrame) in the order
    the timed passes wrote them."""
    plans = capture.wait(NOOP_ACTION, len(written))
    if len(plans) < len(written):
        run.problems.append(f"plan self-check saw {len(plans)} of {len(written)} noop writes")
    for (name, df), qe in zip(written, plans):
        lost = sorted(set(df.columns) - set(action_input_columns(spark, qe))) if qe else df.columns
        if lost:
            run.problems.append(f"{name}: the timed write's plan lacks output columns {lost}")


def measure(run, workload: str) -> None:
    import tables
    from host import cpu_by_kind, cpu_delta
    from metrics import tail

    from sea_streamer_spark.plans.queries import QUERIES

    names, sf, nominal_s = WORKLOADS[workload]
    data = tables.write_tables(os.path.join(run.work, "data"), sf)
    fns = {n: QUERIES[n].fn for n in names}

    run.start_spark()
    run.restart_sessions()
    spark = run.spark
    _warm_up_and_check_oracle(run, spark, names, fns, data)
    _warm_noop_pass(run, spark, names, fns, data)

    passes: list[float] = []
    lat_ms: list[float] = []
    lat_by_query: dict[str, list[float]] = {n: [] for n in names}
    per_pass: list[dict[str, float]] = []
    written: list = []
    # the listener sees the plan of each timed write; its events are handled
    # on Spark's listener thread, off the query's path
    capture = PlanCapture(spark)
    t_start = time.perf_counter()
    # at most four times --seconds of passes: on a contended host (10 s
    # passes) a run makes three, and the whole benchmark keeps to its budget
    while run.more(t_start, passes, nominal_s, limit=4.0):
        layers: dict[str, float] = defaultdict(float)
        cpu0 = run.sampler.cpu()
        t_pass = time.perf_counter()
        with run.tracer.span("pass", n=len(passes)):
            for name in names:
                run.attempted += 1
                t_q = time.perf_counter()
                try:
                    if run.traced:
                        df = _traced_query(run, spark, name, fns[name], data, f"p{len(passes)}-{name}", layers)
                    else:
                        df = fns[name](spark, data)
                        noop_write(df)
                    written.append((name, df))
                except Exception:  # a query that raises is a failed operation
                    run.fail(1, f"{name} raised:\n{traceback.format_exc(limit=-3)}")
                lat_ms.append((time.perf_counter() - t_q) * 1e3)
                lat_by_query[name].append(lat_ms[-1])
        passes.append(time.perf_counter() - t_pass)
        cpu = cpu_by_kind(cpu_delta(cpu0, run.sampler.cpu()))
        layers["operators.pyworker_cpu_s"] = cpu.get("pyworker", 0.0)
        layers["session.jvm_cpu_s"] = cpu.get("jvm", 0.0)
        per_pass.append(layers)
    try:
        _self_check(run, spark, capture, written)
    finally:
        capture.close()

    run.e2e["pass_s"] = statistics.median(passes)
    run.e2e["rate_per_s"] = len(names) / run.e2e["pass_s"]
    run.e2e["lat_p50_ms"] = statistics.median(lat_ms)
    # 10 queries x 5 passes: p90, five samples beyond it
    run.e2e["lat_tail_ms"], run.artifact["lat_tail_q"] = tail(lat_ms, beyond=5)
    run.samples.update(passes=len(passes), queries=len(lat_ms))
    run.artifact["passes_s"] = passes
    run.artifact["lat_by_query_ms"] = lat_by_query
    run.artifact["sf"] = sf
    run.artifact["timed_action"] = "df.write.format('noop').mode('overwrite').save()"
    if run.traced:
        run.layer.update({k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]})

