"""Open-loop event generator for the stream workload.

Appends 256-byte messages to a live ``.ss`` file on a fixed schedule that
does not slow down when the consumer does. The schedule is a list of
``rate:seconds`` segments; a segment ``n:0`` is a burst of ``n`` messages
all due at once. Message ``i`` is *due* at its scheduled time. The
generator encodes every message before the schedule starts, so while it
runs it only appends bytes: each time it wakes, it appends every message
that has fallen due with one write. The schedule starts at the absolute
wall-clock time written to ``--start-file``; the generator creates
``--ready-file`` once its messages are encoded and then waits for the start
file, so it can be launched before the schedule is known.

Each payload starts with the key (8 bytes, big-endian) and the event time
in microseconds (8 bytes): a fixed epoch plus the message's offset in the
schedule, plus its rank among messages due at the same instant, so event
times are unique. Keys are Zipf-distributed over a fixed key space. The
same seed writes the same bytes.

At exit the generator saves, per message, the due time, the time it was
written, the key and the event time (``--out``, a .npy array of shape
(4, n)), so the benchmark can measure latency from the due time, check that
the generator kept its schedule, and check delivery.

    python3 perfbench/ss_generator.py --path f.ss --out rec.npy --seed 1 \\
        --start-file start.txt --ready-file ready.txt --schedule 2000:2,8000:6,0:3,40000:0
"""

from __future__ import annotations

import argparse
import bisect
import io
import os
import struct
import time

import numpy as np

N_KEYS = 100
ZIPF_S = 1.1
PAYLOAD = 256
#: event time of a message due at the start of the schedule: 2024-01-01 UTC
EVENT_EPOCH_US = 1_704_067_200_000_000


def segment_sizes(segments: list[tuple[int, float]]) -> list[int]:
    """Messages in each segment: ``rate * seconds``, or ``rate`` for a burst."""
    return [n if seconds == 0 else int(round(n * seconds)) for n, seconds in segments]


def schedule(segments: list[tuple[int, float]], start_us: int) -> np.ndarray:
    """Due time in microseconds of every message of the schedule."""
    parts, t = [], float(start_us)
    for (rate, seconds), n in zip(segments, segment_sizes(segments)):
        parts.append(np.full(n, t) if seconds == 0 else t + np.arange(n) * (1e6 / max(rate, 1)))
        t += seconds * 1e6
    return np.concatenate(parts).astype(np.int64)


def event_times(segments: list[tuple[int, float]]) -> np.ndarray:
    """Event time in microseconds of every message of the schedule."""
    rel = schedule(segments, 0)
    rank = np.arange(len(rel)) - np.searchsorted(rel, rel, side="left")
    return EVENT_EPOCH_US + rel + rank


def zipf_keys(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
    return rng.choice(N_KEYS, size=n, p=p / p.sum()).astype(np.int64)


def parse_schedule(text: str) -> list[tuple[int, float]]:
    return [(int(r), float(s)) for r, s in (seg.split(":") for seg in text.split(","))]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--path", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start-file", required=True)
    ap.add_argument("--ready-file", required=True, help="created once every message is encoded")
    ap.add_argument("--schedule", required=True)
    args = ap.parse_args()

    from sea_streamer_spark.sources.ss import SsMessage, SsWriter

    segments = parse_schedule(args.schedule)
    ts = event_times(segments)
    keys = zipf_keys(len(ts), args.seed)
    pad = np.random.default_rng(args.seed + 1).bytes(PAYLOAD - 16)
    # Encode every message in file order into memory; ends[i] is the length
    # of the encoding up to and including message i (and any beacon the
    # writer placed after it).
    writer, _ = SsWriter.append_to(args.path)
    fh, writer.buf = writer.buf, io.BytesIO()
    ends = []
    for i, (key, t) in enumerate(zip(keys.tolist(), ts.tolist())):
        writer.write(SsMessage("events", 0, i, t // 1000, struct.pack(">qq", key, t) + pad))
        ends.append(writer.buf.tell())
    encoded = writer.buf.getvalue()
    writer.buf = fh
    open(args.ready_file, "w").close()

    while not os.path.exists(args.start_file):
        time.sleep(0.005)
    with open(args.start_file) as fh_start:
        start = float(fh_start.read())
    due = schedule(segments, int(start * 1e6))
    written = np.zeros(len(due), dtype=np.int64)
    due_list = due.tolist()
    i = pos = 0
    while i < len(due_list):
        now = time.time_ns() // 1000
        k = bisect.bisect_right(due_list, now)
        if k <= i:
            time.sleep(min(0.002, (due_list[i] - now) / 1e6))
            continue
        fh.write(encoded[pos : ends[k - 1]])
        fh.flush()
        written[i:k] = time.time_ns() // 1000
        pos, i = ends[k - 1], k
    writer.end(eos=False)
    np.save(args.out, np.stack([due, written, keys, ts]))


if __name__ == "__main__":
    main()
