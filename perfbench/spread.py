#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and spread (inter-quartile range over the median, the way the
benchmark's stability is judged).

    python3 perfbench/spread.py --workload stream_mix --seeds 1-10 --seconds 16
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,9")
    ap.add_argument("--seconds", default="16")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--save", help="directory to keep each run's output in")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bounds = {m["name"]: m.get("bound") for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for s in seeds(a.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", a.workload, "--seed", str(s), "--seconds", a.seconds,
             "--trace", a.trace],
            capture_output=True, text=True,
        )
        if a.save:
            os.makedirs(a.save, exist_ok=True)
            with open(os.path.join(a.save, f"{a.workload}-{s}.out"), "w") as f:
                f.write(out.stdout)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {s}: exit {out.returncode} correct {res['correct']} "
              f"attempted {res['attempted']} failed {res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        sp = stats.spread(vs) if len(vs) >= 2 else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if sp <= b / 3 else ("  WITHIN BOUND" if sp <= b else "  OVER"))
        print(f"{k:40s} median {stats.median(vs):14.6g}  spread {sp:7.4f}"
              f"{'' if b is None else f'  bound {b}'}{flag}  {[round(v, 4) for v in vs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
