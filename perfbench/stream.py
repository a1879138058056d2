"""Stream workload: an open-loop generator feeding a stateful stream.

A separate generator process (``ss_generator.py``) appends 256 B messages to
a live ``.ss`` file on a fixed schedule: a warm-up segment, a low-rate
segment, a high-rate segment, a pause, a short carrier segment and a burst
of messages all due at once. The system side is the shipped ``.ss``
live-tail source ``format("ss")`` -> ``streaming_rate_limit``
(``applyInPandasWithState``) -> a ``foreachBatch`` sink that stamps the
time each result reaches it. Latency runs from each message's due time to
that stamp. The burst measures the pipeline's throughput with a backlog
waiting, which the fixed-rate segments cannot show: there the sink emits
just what the generator offers. After the generator ends and the sink has
drained, every event must have reached the sink exactly once and each key's
admissions must equal ``rate_limit_py`` over that key's events.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

#: the throwaway warm-up query: blocks of messages, each one batch
WARM_BATCHES, WARM_ROWS = 1, 8_000
WARM = (1_000, 1.0)
LOW_RATE = 1_000
HIGH_RATE = 4_000
#: Token bucket per key: 200 events/s sustained, bursts of 100. With Zipf
#: keys the hot keys are throttled and the cold ones pass.
RATE_PER_HOUR = 720_000
BURST = 100
#: A ladder rung is sustainable when its p99 latency stays within this
#: limit and its backlog does not grow.
LAT_LIMIT_MS = 8_000.0
#: The pause lets the high segment drain. The carrier then starts one
#: micro-batch, and the burst lands while that batch runs (every batch has
#: taken over 0.9 s), so the next trigger sees the whole burst at once; an
#: idle stream polls the file often enough to catch a burst half written.
PAUSE_S = 3.0
CARRIER = (1_000, 0.6)
BURST_MESSAGES = 40_000
#: index of the burst in the schedule
BURST_SEG = 5
START_DELAY_S = 0.2
DRAIN_TIMEOUT_S = 60.0


def _segments(seconds: float) -> list[tuple[int, float]]:
    """Warm-up, the measured ``seconds`` (30% low rate, 70% high), the
    pause, the carrier and the burst."""
    return [
        WARM, (LOW_RATE, 0.3 * seconds), (HIGH_RATE, 0.7 * seconds), (0, PAUSE_S),
        CARRIER, (BURST_MESSAGES, 0.0),
    ]


class _ProgressListener(StreamingQueryListener):
    """Keeps each progress event with the ``.ss`` file's length at the
    moment it was posted."""

    def __init__(self, path: str):
        self.path = path
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        p["file_len"] = os.path.getsize(self.path)
        self.events.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _end_pos(p: dict) -> int:
    off = p["sources"][0]["endOffset"]
    return json.loads(off)["pos"] if isinstance(off, str) else off["pos"]


def _started(p: dict) -> float:
    """Wall-clock start of a progress event's trigger, in seconds."""
    return np.datetime64(p["timestamp"].rstrip("Z"), "us").astype(np.int64) / 1e6


def _ts_us(pdf) -> np.ndarray:
    return pdf["ts"].values.astype("datetime64[us]").astype(np.int64)


def _check(run, rec: np.ndarray, batches: list) -> np.ndarray:
    """Exactly-once delivery and per-key admissions; returns each event's
    sink stamp (µs) in generator order."""
    import pandas as pd

    from sea_streamer_spark.streaming.ratelimit import rate_limit_py

    _due, _written, keys, event_ts = rec
    n = len(event_ts)
    run.attempted += n
    if not batches:
        run.fail(n, "sink received nothing")
        return np.full(n, -1, dtype=np.int64)
    out = pd.concat(
        [pdf.assign(stamp_us=int(t * 1e6)) for _bid, t, pdf in batches], ignore_index=True
    )
    out["ts_us"] = _ts_us(out)
    counts = out["ts_us"].value_counts()
    dup = int((counts > 1).sum())
    index = pd.Series(np.arange(n), index=event_ts)
    known = out["ts_us"].isin(index.index)
    stray = int((~known).sum())
    out = out[known].drop_duplicates("ts_us")
    lost = n - len(out)
    if dup or stray or lost:
        run.fail(dup + stray + lost, f"delivery: {lost} lost, {dup} duplicated, {stray} unknown")
    stamp = np.full(n, -1, dtype=np.int64)
    stamp[index[out["ts_us"]].to_numpy()] = out["stamp_us"].to_numpy()
    out["key"] = out["key"].astype(np.int64)
    want_keys = pd.Series(keys, index=event_ts)
    wrong_key = int((want_keys[out["ts_us"]].to_numpy() != out["key"].to_numpy()).sum())
    if wrong_key:
        run.fail(wrong_key, f"{wrong_key} events arrived under another key")
    bad = 0
    got = {k: g.sort_values("ts_us")["admitted"].tolist() for k, g in out.groupby("key")}
    sent = pd.DataFrame({"key": keys, "ts_us": event_ts})
    for key, grp in sent.groupby("key"):
        expect = rate_limit_py(grp["ts_us"].tolist(), RATE_PER_HOUR, BURST)
        seen = got.get(key, [])
        bad += sum(a != b for a, b in zip(expect, seen)) + abs(len(expect) - len(seen))
    if bad:
        run.fail(bad, f"{bad} admissions differ from rate_limit_py")
    return stamp


def _pipeline(spark, path: str):
    """The system under test: the ``.ss`` live tail of ``path``, payloads
    decoded to (key, creation time), then the stateful rate limiter."""
    from pyspark.sql import functions as F

    from sea_streamer_spark.streaming.ratelimit import streaming_rate_limit

    src = spark.readStream.format("ss").option("path", path).load()
    events = src.select(
        F.conv(F.hex(F.substring("payload", 1, 8)), 16, 10).alias("key"),
        F.timestamp_micros(F.conv(F.hex(F.substring("payload", 9, 8)), 16, 10).cast("long")).alias(
            "ts"
        ),
    )
    return streaming_rate_limit(events, "key", "ts", RATE_PER_HOUR, BURST)


def _warm_query(run, spark) -> None:
    """Run the pipeline over ``WARM_BATCHES`` blocks of messages, one block
    per batch, then stop it. A first query's batches ran about 30% slower
    than those of a second query on the same JVM, so the measured query is
    the second."""
    import io
    import struct

    from ss_generator import PAYLOAD, zipf_keys

    from sea_streamer_spark.sources.ss import SsMessage, SsWriter

    path = os.path.join(run.work, "warm.ss")
    with open(path, "wb") as fh:
        SsWriter("events", out=fh).end(eos=False)
    keys = zipf_keys(WARM_BATCHES * WARM_ROWS, run.seed).tolist()
    pad = bytes(PAYLOAD - 16)

    def append_block(b: int) -> None:
        # one write per block, so a trigger never sees part of it
        writer, _ = SsWriter.append_to(path)
        fh, writer.buf = writer.buf, io.BytesIO()
        now_us = time.time_ns() // 1000
        for i in range(b * WARM_ROWS, (b + 1) * WARM_ROWS):
            payload = struct.pack(">qq", keys[i], now_us + i) + pad
            writer.write(SsMessage("events", 0, i, now_us // 1000, payload))
        fh.write(writer.buf.getvalue())
        writer.buf = fh
        writer.end(eos=False)

    rows = [0]

    def sink(bdf, _bid) -> None:
        rows[0] += len(bdf.toPandas())

    append_block(0)
    query = (
        _pipeline(spark, path).writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(run.work, "warm-checkpoint"))
        .start()
    )
    block_s = []
    try:
        for b in range(WARM_BATCHES):
            t0 = time.perf_counter()
            if b:
                append_block(b)
            deadline = time.time() + DRAIN_TIMEOUT_S
            while rows[0] < (b + 1) * WARM_ROWS and time.time() < deadline and query.isActive:
                time.sleep(0.02)
            block_s.append(time.perf_counter() - t0)
        failure = query.exception()
    finally:
        query.stop()
    run.artifact["warm_query_blocks_s"] = block_s
    if failure is not None or rows[0] != WARM_BATCHES * WARM_ROWS:
        run.problems.append(f"warm-up query: {rows[0]} rows, {str(failure)[:300]}")


def measure(run) -> None:
    from host import cpu_by_kind, cpu_delta
    from metrics import quantile, tail
    from ss_generator import schedule, segment_sizes

    from sea_streamer_spark.sources.ss import SsWriter
    from sea_streamer_spark.sources.ss_datasource import SsDataSource

    run.start_spark()
    run.restart_sessions()
    spark = run.spark

    path = os.path.join(run.work, "events.ss")
    rec_path = os.path.join(run.work, "schedule.npy")
    with open(path, "wb") as fh:
        SsWriter("events", out=fh).end(eos=False)
    segments = _segments(run.seconds)
    start_file = os.path.join(run.work, "start.txt")
    ready_file = os.path.join(run.work, "ready.txt")
    # launched first: it encodes its messages while the warm-up query runs
    gen = subprocess.Popen(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "ss_generator.py"),
            "--path", path, "--out", rec_path, "--seed", str(run.seed),
            "--start-file", start_file, "--ready-file", ready_file,
            "--schedule", ",".join(f"{r}:{s}" for r, s in segments),
        ]
    )
    query = None
    try:
        spark.dataSource.register(SsDataSource)
        t0 = time.perf_counter()
        _warm_query(run, spark)
        run.setup_parts["warm_query_s"] = time.perf_counter() - t0
        progress = _ProgressListener(path)
        spark.streams.addListener(progress)

        t_setup = time.perf_counter()
        batches: list = []
        received = [0]
        lock = threading.Lock()

        def sink(bdf, bid) -> None:
            pdf = bdf.toPandas()
            t = time.time()
            with lock:
                batches.append((bid, t, pdf))
                received[0] += len(pdf)

        query = (
            _pipeline(spark, path).writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(run.work, "checkpoint"))
            .start()
        )
        # The first trigger runs an empty batch that pays the cold start of
        # the stateful pipeline; the schedule starts once it has finished.
        deadline = time.time() + DRAIN_TIMEOUT_S
        while not progress.events and time.time() < deadline and query.isActive:
            time.sleep(0.05)
        while not os.path.exists(ready_file) and time.time() < deadline and gen.poll() is None:
            time.sleep(0.01)
        start = time.time() + START_DELAY_S
        with open(start_file + ".tmp", "w") as fh:
            fh.write(repr(start))
        os.rename(start_file + ".tmp", start_file)
        due = schedule(segments, int(start * 1e6))
        bounds = np.cumsum([0.0] + [s for _r, s in segments]) + start
        cpu_at = []
        for b in bounds[1:]:
            time.sleep(max(0.0, b - time.time()))
            cpu_at.append(run.sampler.cpu())
            if len(cpu_at) == 1:  # end of the warm-up segment
                run.setup_parts["warmup_s"] = time.perf_counter() - t_setup
        gen_rc = gen.wait(timeout=120)
        deadline = time.time() + DRAIN_TIMEOUT_S
        while received[0] < len(due) and time.time() < deadline and query.isActive:
            time.sleep(0.05)
        # the last batch's progress is posted after its sink call returns
        while (
            sum(p["numInputRows"] for p in progress.events) < len(due)
            and time.time() < deadline
            and query.isActive
        ):
            time.sleep(0.05)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        failure = query.exception() if query is not None else None
        if query is not None:
            query.stop()
    if failure is not None:
        run.problems.append(f"stream query failed: {str(failure)[:300]}")
        return
    if gen_rc != 0:
        run.problems.append(f"generator exited with {gen_rc}")
        return
    rec = np.load(rec_path)
    stamp = _check(run, rec, batches)

    due_us, written = rec[0], rec[1]
    lag_ms = (written - due_us) / 1e3
    lat_ms = (stamp - due_us) / 1e3
    seg_of = np.repeat(np.arange(len(segments)), segment_sizes(segments))
    got = stamp >= 0

    def seg_lat(k: int) -> np.ndarray:
        return lat_ms[(seg_of == k) & got]

    def seg_batches(k: int) -> list[dict]:
        lo, hi = bounds[k], bounds[k + 1]
        return [p for p in progress.events if lo <= _started(p) < hi and p["numInputRows"] > 0]

    def stamps_in(k: int) -> list[float]:
        lo, hi = bounds[k], bounds[k + 1]
        return sorted(t for _b, t, pdf in batches if lo <= t < hi and len(pdf))

    def backlog(ps: list[dict]) -> list[int]:
        return [p["file_len"] - _end_pos(p) for p in ps]

    rung = {}
    for k, (rate, _s) in ((1, segments[1]), (2, segments[2])):
        lat = seg_lat(k)
        bl = backlog(seg_batches(k))
        grows = len(bl) >= 4 and max(bl[-2:]) > 1.5 * max(bl[:2]) + rate * 128
        ok = len(lat) > 0 and quantile(lat.tolist(), 0.99) <= LAT_LIMIT_MS and not grows
        made = np.sort(written[seg_of == k])
        offered = (len(made) - 1) / max(1e-9, (made[-1] - made[0]) / 1e6)
        rung[rate] = {"ok": ok, "backlog_grows": grows, "rate": offered}
    after = [p for p in progress.events if _started(p) >= bounds[BURST_SEG]]
    burst = max(after, key=lambda p: p["numInputRows"], default=None)
    burst_rows = burst["numInputRows"] if burst else 0
    burst_s = burst["durationMs"]["triggerExecution"] / 1e3 if burst else 0.0

    high, low = seg_lat(2), seg_lat(1)
    st = stamps_in(2)
    # mean interval between consecutive sink emissions: one micro-batch
    run.e2e["pass_s"] = (st[-1] - st[0]) / (len(st) - 1) if len(st) > 1 else segments[2][1]
    # throughput with a backlog waiting: rows of the batch that took the
    # burst over that batch's trigger time
    run.e2e["rate_per_s"] = burst_rows / burst_s if burst_s else 0.0
    # fewer rows than the burst: a trigger caught it half written
    run.artifact["burst_split"] = burst_rows < BURST_MESSAGES
    run.e2e["lat_p50_ms"] = float(np.median(high))
    run.e2e["lat_tail_ms"], run.artifact["lat_tail_q"] = tail(high.tolist())
    # the burst is one write of all its messages: only the other segments
    # show whether the generator kept its schedule
    timed = seg_of != BURST_SEG
    lag_p99 = quantile(lag_ms[timed].tolist(), 0.99)
    if lag_p99 > 100.0:
        run.problems.append(f"generator fell behind: p99 lag {lag_p99:.1f} ms (limit 100 ms)")
    hi_batches = seg_batches(2)
    run.samples.update(
        events_high=len(high), events_low=len(low), batches_high=len(hi_batches),
        batches_low=len(seg_batches(1)), events_total=len(due),
        burst_rows=burst_rows,
    )
    run.artifact.update(
        ladder=rung,
        lat_limit_ms=LAT_LIMIT_MS,
        low={"lat_p50_ms": float(np.median(low)), "lat_tail_ms": tail(low.tolist())[0]},
        generator={"lag_p99_ms": lag_p99, "lag_max_ms": float(lag_ms[timed].max())},
        burst={"rows": burst_rows, "trigger_s": burst_s, "batches_after": len(after)},
        progress=[
            {k: p.get(k) for k in ("batchId", "timestamp", "numInputRows", "durationMs", "file_len")}
            for p in progress.events
        ],
    )
    if run.traced:

        def dur(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) for p in hi_batches)

        states = [p["stateOperators"][0] for p in hi_batches if p["stateOperators"]]
        cpu = cpu_by_kind(cpu_delta(cpu_at[1], cpu_at[2]))
        run.layer.update(
            {
                "session.jvm_cpu_s": cpu.get("jvm", 0.0),
                "operators.pyworker_cpu_s": cpu.get("pyworker", 0.0),
                "sources.ss_datasource.latest_offset_ms": dur("latestOffset"),
                "streaming.add_batch_ms": dur("addBatch"),
                "streaming.wal_commit_ms": dur("walCommit"),
                "streaming.commit_offsets_ms": dur("commitOffsets"),
                "streaming.query_planning_ms": dur("queryPlanning"),
                "streaming.trigger_ms": dur("triggerExecution"),
                "streaming.rows_per_batch": statistics.median(p["numInputRows"] for p in hi_batches),
                "streaming.ratelimit.state_rows": states[-1]["numRowsTotal"],
                "streaming.ratelimit.state_bytes": states[-1]["memoryUsedBytes"],
                "streaming.ratelimit.state_commit_ms": statistics.median(
                    s["commitTimeMs"] for s in states
                ),
                "sources.backlog_bytes": max(backlog(hi_batches)),
                "generator.lag_ms": lag_p99,
                "stream.low.lat_p50_ms": run.artifact["low"]["lat_p50_ms"],
                "stream.low.lat_tail_ms": run.artifact["low"]["lat_tail_ms"],
            }
        )
