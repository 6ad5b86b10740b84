#!/usr/bin/env python3
"""Profile a streaming registry query: per-micro-batch duration breakdown.

Monkey-patches DataStreamWriter.start to capture every StreamingQuery the
query function launches, then dumps recentProgress durationMs /
stateOperators metrics (commit, all-updates and all-removals time) after
the run, and each micro-batch's Janino compiles (generated-class cache
misses, CodegenMetrics; see ``BatchCompiles``).  ``--cpus`` defaults to
``$SPARK_GRAFT_CPUS``, else the host's core count, the same ``local[N]``
the tests and the benchmark use.

Usage: python tools/profile_streaming.py <query_name> [--sf DIR] [--cpus N]
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from flink_1_8_sourcecode_spark.queries import load_all  # noqa: E402


class BatchCompiles(StreamingQueryListener):
    """Janino compiles per micro-batch.  The JVM-wide compile count is read
    as each batch's progress event arrives; a batch's compiles are the
    count then minus the count at the query's previous batch (or its
    start).  Progress events arrive asynchronously, so a compile made while
    planning the next batch can land on the batch before it."""

    def __init__(self, spark):
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.count = metrics.METRIC_COMPILATION_TIME()
        self.last: dict[str, int] = {}
        self.per_batch: dict[tuple[str, int], int] = {}

    def onQueryStarted(self, event):
        self.last[str(event.id)] = self.count.getCount()

    def onQueryProgress(self, event):
        p, now = event.progress, self.count.getCount()
        qid = str(p.id)
        self.per_batch[(qid, p.batchId)] = now - self.last.get(qid, now)
        self.last[qid] = now

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    )
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_CPUS"] = args.cpus
    from flink_1_8_sourcecode_spark.session import get_spark

    reg = load_all()
    q = reg[args.name]
    spark = get_spark(app_name=f"profile-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    compiles = BatchCompiles(spark)
    spark.streams.addListener(compiles)

    from pyspark.sql.streaming import readwriter as srw

    captured = []
    orig_start = srw.DataStreamWriter.start

    def start(self, *a, **kw):
        sq = orig_start(self, *a, **kw)
        captured.append(sq)
        return sq

    srw.DataStreamWriter.start = start
    try:
        t0 = time.perf_counter()
        df = q.spark(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        srw.DataStreamWriter.start = orig_start
    time.sleep(1.0)  # let the listener receive the last progress events

    print(f"\n=== {args.name}: wall {wall:.2f}s, {len(captured)} streaming queries ===")
    for sq in captured:
        progs = [
            p if isinstance(p, dict) else json.loads(str(p.json) if hasattr(p, "json") else str(p))
            for p in sq.recentProgress
        ]
        print(f"\n-- query {sq.name or sq.id}: {len(progs)} batches --")
        for p in progs:
            d = p.get("durationMs", {})
            rows = p.get("numInputRows")
            state = p.get("stateOperators", [])
            st = "; ".join(
                f"op{idx}: commit={so.get('commitTimeMs')}ms "
                f"updates={so.get('allUpdatesTimeMs')}ms "
                f"removals={so.get('allRemovalsTimeMs')}ms rows={so.get('numRowsTotal')}"
                for idx, so in enumerate(state)
            )
            print(
                f"batch {p.get('batchId')}: rows={rows} "
                f"total={d.get('triggerExecution')}ms "
                f"addBatch={d.get('addBatch')}ms getBatch={d.get('getBatch')}ms "
                f"latestOffset={d.get('latestOffset')}ms "
                f"queryPlanning={d.get('queryPlanning')}ms "
                f"walCommit={d.get('walCommit')}ms "
                f"commitOffsets={d.get('commitOffsets')}ms "
                f"compiles={compiles.per_batch.get((str(p.get('id')), p.get('batchId')))} | {st}"
            )


if __name__ == "__main__":
    main()
