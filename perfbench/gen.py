"""Load generator: the reference producer's cpu/mem wire messages.

Runs as its own process, separate from the engine under test. It writes
tab-separated ``topic<TAB>ts,server_id,value`` lines, one file per tick,
into a file-stream directory. Each file is written under a temporary name
and renamed into place, so the stream source never sees a partial file.

Two modes:

- ``live``: an open loop. Tick ``k`` is due at ``start + k * tick`` on the
  wall clock and the schedule never slows when the writer falls behind.
  Every message of a tick carries the tick's creation time as ``ts``. A
  seeded share of ``mem`` messages is held back and written with the next
  tick, inside the watermark.
- ``backlog``: the same messages for a fixed synthetic timeline, written
  all at once, ``TICKS_PER_FILE`` ticks to a file. This is the backlog a
  consumer finds after an outage.

The values, and which messages arrive late, depend only on the seed and
the tick number. On exit the generator writes a JSON summary: events,
offered rate and how late each tick was written.

Usage::

    python3 perfbench/gen.py live --out DIR --summary FILE --seed 1 \\
        --start 1760000000.5 --ticks 60 --stop-file FILE
    python3 perfbench/gen.py backlog --out DIR --summary FILE --seed 1 --ticks 80
"""

from __future__ import annotations

import argparse
import json
import os
import time
from datetime import datetime, timezone

import numpy as np

CPU_TOPIC = "topic-cpu"
MEM_TOPIC = "topic-mem"
# A fixed epoch for the backlog's synthetic timeline (2026-01-01 UTC), so
# one seed always gives byte-identical backlog files.
BACKLOG_EPOCH = 1767225600
SERVERS = 1000
TICK_S = 1.0
# Share of mem messages held back one tick: late, but inside the watermark.
LATE_FRAC = 0.02
# Backlog ticks per file: 20,000 messages a file.
TICKS_PER_FILE = 10


def server_ids(n: int) -> list[str]:
    return [f"srv-{i:05d}" for i in range(n)]


class TickSource:
    """Seeded per-tick values. Tick ``k``'s values and late set depend only
    on ``(seed, k)``, never on when the tick is written."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.ids = server_ids(SERVERS)
        base = np.random.default_rng([seed, 0xBA5E])
        # Per-server operating points, so some servers run hot enough to
        # alert and the CASE branches all see rows.
        self.cpu_base = base.uniform(20.0, 99.0, SERVERS)
        self.mem_base = base.uniform(20.0, 90.0, SERVERS)

    def tick(self, k: int):
        rng = np.random.default_rng([self.seed, k])
        n = len(self.ids)
        cpu = np.clip(self.cpu_base + rng.normal(0.0, 4.0, n), 0.0, 100.0).round(2)
        mem = np.clip(self.mem_base + rng.normal(0.0, 3.0, n), 0.0, 100.0).round(2)
        late = rng.random(n) < LATE_FRAC
        return cpu, mem, late


def fmt_ts(epoch: float) -> str:
    dt = datetime.fromtimestamp(epoch, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}"


def tick_lines(src: TickSource, k: int, ts: str):
    """Return (on-time lines, held-back mem lines) for tick ``k``."""
    cpu, mem, late = src.tick(k)
    lines, held = [], []
    for i, sid in enumerate(src.ids):
        lines.append(f"{CPU_TOPIC}\t{ts},{sid},{cpu[i]:.2f}\n")
        mem_line = f"{MEM_TOPIC}\t{ts},{sid},{mem[i]:.2f}\n"
        (held if late[i] else lines).append(mem_line)
    return lines, held


def write_atomic(out_dir: str, tmp_dir: str, name: str, lines: list[str]) -> None:
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.replace(tmp, os.path.join(out_dir, name))


def run_live(args, src: TickSource, tmp_dir: str) -> dict:
    lateness = []
    busy = 0.0
    events = 0
    held: list[str] = []
    ticks = 0
    for k in range(args.ticks):
        if args.stop_file and os.path.exists(args.stop_file):
            break
        due = args.start + k * TICK_S
        now = time.time()
        if now < due:
            time.sleep(due - now)
        created = time.time()
        lines, new_held = tick_lines(src, k, fmt_ts(created))
        write_atomic(args.out, tmp_dir, f"tick-{k:06d}.tsv", held + lines)
        lateness.append(time.time() - due)
        busy += time.time() - created
        events += len(lines) + len(held)
        held = new_held
        ticks += 1
    if held:
        write_atomic(args.out, tmp_dir, f"tick-{ticks:06d}.tsv", held)
        events += len(held)
    span = ticks * TICK_S
    return {
        "events": events,
        "offered_eps": events / span,
        "late_p99_s": float(np.percentile(lateness, 99)),
        "late_max_s": float(max(lateness)),
        "busy_s": busy,
    }


def run_backlog(args, src: TickSource, tmp_dir: str) -> dict:
    t0 = time.time()
    events = 0
    held: list[str] = []
    for f0 in range(0, args.ticks, TICKS_PER_FILE):
        lines: list[str] = []
        for k in range(f0, min(f0 + TICKS_PER_FILE, args.ticks)):
            on_time, new_held = tick_lines(src, k, fmt_ts(BACKLOG_EPOCH + k * TICK_S))
            lines += held + on_time
            held = new_held
        if f0 + TICKS_PER_FILE >= args.ticks:
            lines += held
        write_atomic(args.out, tmp_dir, f"part-{f0:06d}.tsv", lines)
        events += len(lines)
    return {"events": events, "busy_s": time.time() - t0, "first_ts": BACKLOG_EPOCH,
            "last_ts": BACKLOG_EPOCH + (args.ticks - 1) * TICK_S}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=["live", "backlog"])
    p.add_argument("--out", required=True)
    p.add_argument("--summary", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--ticks", type=int, required=True)
    p.add_argument("--start", type=float, help="live: wall-clock time of tick 0")
    p.add_argument("--stop-file", help="live: stop before the next tick once this file exists")
    args = p.parse_args()
    os.makedirs(args.out, exist_ok=True)
    tmp_dir = args.out.rstrip("/") + ".tmp"
    os.makedirs(tmp_dir, exist_ok=True)
    src = TickSource(args.seed)
    summary = run_live(args, src, tmp_dir) if args.mode == "live" else run_backlog(args, src, tmp_dir)
    with open(args.summary, "w") as f:
        json.dump(summary, f)


if __name__ == "__main__":
    main()
