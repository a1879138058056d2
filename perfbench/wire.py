"""Wire workload: the reference's 100k x 256 B produce, relay and consume
over RESP2/TCP, through the shipped ``benchmark_wire``.

A round is one ``benchmark_wire`` call on two shards: produce (executor
tasks pipeline XADDs to the source brokers), relay (tasks page the source
brokers and write the destination brokers) and consume (tasks page the
source brokers). Rounds repeat for about ``--seconds``. The shipped
code raises if any phase moves a different number of messages than were
produced. A probe then times 60 pages of 5,000 messages, each produced
with one pipelined XADD and read back with one XRANGE against one broker,
and checks every payload comes back intact.
"""

from __future__ import annotations

import random
import statistics
import time

N_MESSAGES = 100_000
N_SHARDS = 2
PAYLOAD = 256
#: nominal length of one round, which sets the rounds per ``--seconds``
ROUND_S = 4.5
#: A probe produces one page of messages with a pipelined XADD and reads it
#: back with one XRANGE. Pages of 5,000 (~120 ms) span many of a shared
#: host's scheduling and steal intervals: the p90 of 1,000-message pages
#: (~20 ms) moved with the steal share of the run.
PAGE = 5_000
N_PAGES = 60


def _probe(run) -> list[float]:
    """Produce-then-consume latency of each page, in ms, in probe order.
    Every payload must come back byte-identical."""
    from sea_streamer_spark.streaming.resp import RespClient
    from sea_streamer_spark.streaming.wire_bench import start_shard_servers

    rng = random.Random(run.seed)
    procs, addrs = start_shard_servers(1)
    lat = []
    try:
        client = RespClient(*addrs[0])
        try:
            for _ in range(N_PAGES):
                payloads = [rng.randbytes(PAYLOAD) for _ in range(PAGE)]
                run.attempted += PAGE
                t0 = time.perf_counter()
                pipe = client.pipeline()
                for p in payloads:
                    pipe.xadd("probe", {"payload": p})
                ids = [i.decode() if isinstance(i, bytes) else i for i in pipe.execute()]
                got = client.xrange_entries("probe", min=ids[0], max=ids[-1])
                lat.append((time.perf_counter() - t0) * 1e3)
                back = [flat[1] for _id, flat in got]
                if back != payloads:
                    ok = sum(a == b for a, b in zip(back, payloads))
                    run.fail(PAGE - ok, f"probe page from {ids[0]}: {PAGE - ok} payloads differ")
        finally:
            client.close()
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            p.join(timeout=10)
    return lat


def measure(run) -> None:
    from host import cpu_by_kind, cpu_delta
    from metrics import tail

    from sea_streamer_spark.streaming.wire_bench import benchmark_wire

    run.start_spark()
    run.restart_sessions()
    spark = run.spark
    t0 = time.perf_counter()
    benchmark_wire(spark, n=20_000, n_shards=N_SHARDS)
    run.setup_parts["warmup_s"] = time.perf_counter() - t0

    rounds: list[dict] = []
    walls: list[float] = []
    t_start = time.perf_counter()
    while run.more(t_start, walls, ROUND_S):
        run.attempted += N_MESSAGES
        cpu0 = run.sampler.cpu()
        t_round = time.perf_counter()
        try:
            with run.tracer.span("streaming.wire_round", n=len(walls)):
                r = benchmark_wire(spark, n=N_MESSAGES, n_shards=N_SHARDS)
        except AssertionError as e:  # the shipped conservation check
            run.fail(N_MESSAGES, f"wire round lost messages: {e}")
            continue
        finally:
            walls.append(time.perf_counter() - t_round)
        wall = walls[-1]
        delta = cpu_delta(cpu0, run.sampler.cpu())
        kinds = cpu_by_kind(delta)
        rounds.append(
            {
                "produce": r["wire_produce_100k"],
                "relay": r["wire_relay_100k"],
                "consume": r["wire_consume_100k"],
                "broker_cpu": kinds.get("child", 0.0),
                "client_cpu": kinds.get("pyworker", 0.0),
                "jvm_cpu": kinds.get("jvm", 0.0),
                "busiest_cpu": max(t for _k, t in delta.values()),
                "wall": wall,
            }
        )
    if not rounds:
        return
    with run.tracer.span("streaming.resp_probe"):
        lat = _probe(run)

    def med(k: str) -> float:
        return statistics.median(r[k] for r in rounds)

    phases = [r["produce"] + r["relay"] + r["consume"] for r in rounds]
    run.e2e["pass_s"] = statistics.median(phases)
    run.e2e["rate_per_s"] = N_MESSAGES / statistics.median(
        max(r["produce"], r["relay"], r["consume"]) for r in rounds
    )
    run.e2e["lat_p50_ms"] = statistics.median(lat)
    run.e2e["lat_tail_ms"], run.artifact["lat_tail_q"] = tail(lat)
    run.samples.update(rounds=len(rounds), probe_pages=len(lat))
    run.artifact["rounds"] = rounds
    run.artifact["msgs_per_s"] = {
        p: N_MESSAGES / med(p) for p in ("produce", "relay", "consume")
    }
    if run.traced:
        run.layer.update(
            {
                "session.jvm_cpu_s": med("jvm_cpu"),
                "streaming.produce_s": med("produce"),
                "streaming.relay_s": med("relay"),
                "streaming.consume_s": med("consume"),
                "streaming.broker_cpu_s": med("broker_cpu"),
                "streaming.client_cpu_s": med("client_cpu"),
                "operators.pyworker_cpu_s": med("client_cpu"),
                "streaming.task_overhead_s": statistics.median(
                    p - r["busiest_cpu"] for p, r in zip(phases, rounds)
                ),
            }
        )
