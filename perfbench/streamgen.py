"""Open-loop event generator for stream_mix (one single-threaded process).

Makes every tick's events, creates ``<start file>.ready``, waits for the
start file holding the wall-clock start time, then writes
each tick's events at each ladder rate as parquet files of at most
``file_events`` events, by atomic rename into the monitored directory.
Every event carries ``gen_ts``, its tick's *due* time, so queueing
behind a slow consumer counts as latency.  One JSON
line per tick goes to the log: step, tick, events, late events, due
time and how late the write started.

    python3 streamgen.py --seed 1 --dir IN --tmp TMP --log LOG \\
        --start-file GO --schedule 10000:7,240000:5 --tick 0.25 --prime 500
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402

# the runner starts this process with these set, so numpy stays on one thread
SINGLE_THREAD_ENV = {"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1"}

LADDER_OFFSET_S = 1.0  # event time of the ladder's first tick, after the prime


def parse_schedule(text: str) -> list[tuple[int, float]]:
    return [(int(r), float(s)) for r, s in (p.split(":") for p in text.split(","))]


def with_gen_ts(tbl: pa.Table, due_wall: float) -> pa.Table:
    tbl = tbl.drop(["late"])
    gen = np.full(tbl.num_rows, np.datetime64(int(due_wall * 1e6), "us"))
    return tbl.append_column("gen_ts", pa.array(gen))


def write_atomic(tbl: pa.Table, tmp_dir: str, out_dir: str, name: str) -> None:
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(tbl, tmp, compression="snappy")
    os.rename(tmp, os.path.join(out_dir, name))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--start-file", required=True)
    ap.add_argument("--schedule", required=True)
    ap.add_argument("--tick", type=float, required=True)
    ap.add_argument("--prime", type=int, required=True)
    a = ap.parse_args(argv)
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    src = inputs.StreamSource(a.seed)
    file_events = inputs.STREAM_DIMS["file_events"]
    src.tick(a.prime, 0.0, allow_late=False)  # the prime the runner wrote
    # Every tick's events are made before the start, so a tick only writes
    # files: on four cores shared with the program, making and writing a
    # 180k-event tick on time took longer than the 0.25 s tick.
    ticks, offset = [], 0.0
    for step, (rate, secs) in enumerate(parse_schedule(a.schedule), 1):
        n_ticks = int(round(secs / a.tick))
        for j in range(n_ticks):
            due_off = offset + (j + 1) * a.tick
            tbl = src.tick(int(rate * a.tick), LADDER_OFFSET_S + due_off, allow_late=True)
            ticks.append((step, j, due_off, tbl))
        offset += n_ticks * a.tick
    with open(a.start_file + ".ready", "w"):
        pass
    deadline = time.time() + 120
    while not os.path.exists(a.start_file):
        if time.time() > deadline:
            return 3
        time.sleep(0.01)
    with open(a.start_file) as f:
        t0 = float(f.read())
    seq = 0
    with open(a.log, "w") as log:
        for step, j, due_off, tbl in ticks:
            due = t0 + due_off
            time.sleep(max(0.0, due - time.time()))
            started = time.time()
            n_late = int(np.count_nonzero(tbl.column("late").to_numpy()))
            tbl = with_gen_ts(tbl, due)
            for lo in range(0, tbl.num_rows, file_events):
                seq += 1
                write_atomic(tbl.slice(lo, file_events), a.tmp, a.dir, f"ev{seq:06d}.parquet")
            log.write(json.dumps({
                "step": step, "tick": j, "n": tbl.num_rows, "late": n_late,
                "due": due, "lag": started - due, "done": time.time(),
            }) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
