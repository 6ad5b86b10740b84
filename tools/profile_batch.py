#!/usr/bin/env python3
"""Profile the batch request mix: where a request's fixed cost goes.

Builds the ``batch_mix`` benchmark's tables from ``--seed`` with
``perfbench/inputs.py``, registers them in one Engine, runs the
benchmark's warm-up pass and warm loop, then ``--cycles`` whole 11-request
cycles of the same seeded requests (``perfbench/wl_batch.py``).  Per
request kind it prints medians over the measured requests of:
  latency     wall time of the request
  compiles    Janino compiles (generated-class cache misses, CodegenMetrics)
  compile_ms  time inside those compiles
  jobs_ms     time inside Spark jobs: the union of every job's
              submission -> completion interval (AppStatusStore)
  jobs        Spark jobs the request ran
and a ``cycle`` row with the median per-cycle sums.  ``--conf k=v``
(repeatable) adds session confs, e.g. a different
``spark.sql.codegen.cache.maxEntries``.  ``--cpus`` defaults to
``$SPARK_GRAFT_CPUS``, else the host's core count.

Usage: python tools/profile_batch.py [--seed N] [--cycles N] [--cpus N] [--conf k=v ...]
"""
from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

COLUMNS = ("latency_ms", "compiles", "compile_ms", "jobs_ms", "jobs")


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)


class Counters:
    """JVM-wide codegen counters and per-request Spark job timings."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def compiles(self) -> tuple[int, int]:
        """(compiles so far, compile nanoseconds so far)."""
        return self.metrics.METRIC_COMPILATION_TIME().getCount(), self.codegen.compileTime()

    def jobs(self, group: str) -> tuple[int, float]:
        """(job count, ms inside jobs) of one job group."""
        intervals = []
        ids = self.sc.statusTracker().getJobIdsForGroup(group)
        for jid in ids:
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        return len(ids), _union_ms(intervals)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=9)
    ap.add_argument("--cycles", type=int, default=8)
    ap.add_argument(
        "--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    )
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = args.cpus
    # Python workers import the engine too, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH", "")) if p
    )
    import harness
    import spans
    import wl_batch

    from flink_1_8_sourcecode_spark.session import get_spark

    root = tempfile.mkdtemp(prefix="profile_batch_")
    try:
        # BatchWorkload builds the tables from the seed (inputs.make_batch_inputs)
        run = harness.Run(root, "batch_mix", args.seed, 0.0, spans.Tracer(False))
        wl = wl_batch.BatchWorkload(run)
        spark = get_spark(
            app_name="profile-batch",
            extra_conf=dict(kv.split("=", 1) for kv in args.conf),
        )
        spark.sparkContext.setLogLevel("ERROR")
        eng = wl.build(spark)
        wl.warm_loop(eng)

        counters = Counters(spark)
        reqs = wl_batch.Requests(args.seed)
        rows = []
        for _ in range(args.cycles * len(wl_batch.CYCLE)):
            req = reqs.next()
            group = f"profile-{req['i']}"
            spark.sparkContext.setJobGroup(group, group)
            n0, ns0 = counters.compiles()
            t0 = time.perf_counter()
            wl.execute(eng, req)
            latency = time.perf_counter() - t0
            n1, ns1 = counters.compiles()
            rows.append((req["kind"], group, latency * 1e3, n1 - n0, (ns1 - ns0) / 1e6))
        time.sleep(1.0)  # let the status listener record the last jobs

        by_kind: dict[str, list[tuple]] = {}
        per_request = []
        for kind, group, lat_ms, n, c_ms in rows:
            jobs, jobs_ms = counters.jobs(group)
            rec = (lat_ms, n, c_ms, jobs_ms, jobs)
            per_request.append(rec)
            by_kind.setdefault(kind, []).append(rec)
        n = len(wl_batch.CYCLE)
        cycles = [
            tuple(sum(col) for col in zip(*per_request[i:i + n]))
            for i in range(0, len(per_request), n)
        ]

        print(f"\n=== batch_mix seed {args.seed}: {args.cycles} cycles, local[{args.cpus}]"
              f"{', ' + ', '.join(args.conf) if args.conf else ''} ===")
        print(f"{'kind':8s} {'n':>3s} " + " ".join(f"{c:>11s}" for c in COLUMNS))
        for kind, recs in sorted(by_kind.items()) + [("cycle", cycles)]:
            med = [statistics.median(col) for col in zip(*recs)]
            print(f"{kind:8s} {len(recs):3d} " + " ".join(f"{v:11.1f}" for v in med))
        spark.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
