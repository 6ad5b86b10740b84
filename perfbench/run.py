#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 16 --trace 0

Run from the root of a checkout of the repository.  Generates the
workload's inputs from the seed, sets the engine up once cold and then
several times warm (the median of the warm set-ups is ``setup_s``),
measures for ``--seconds``, checks every result and prints one detail
line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public entry points in spans and reports the per-layer metrics
(both lists are read from BENCHMARK.json).  Exits non-zero when a check
fails or the program cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("batch_mix", "stream_mix")

# Per-layer metrics that cannot be observed from outside the program.
UNOBSERVED = {
    "cep.timeouts": "SQL MATCH_RECOGNIZE has no timeout side output; timed-out "
    "partial matches are dropped inside cep/streaming.py without a public count",
}


def declared_metrics(root: str) -> tuple[list, list]:
    """(end-to-end, per-layer) metrics as BENCHMARK.json declares them:
    lists of (name, unit)."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([(m["name"], m["unit"]) for m in spec["end_to_end"]],
            [(m["name"], m["unit"]) for m in spec["per_layer"]])


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def layer_from_spans(tracer, since: float) -> dict[str, float]:
    """Per-layer timings from the recorded spans: set-up spans as the
    median over set-ups, measured-window spans as the mean per call."""
    import spans
    import stats

    out: dict[str, float] = {}
    all_spans = tracer.spans
    st = spans.self_times(all_spans)
    setups = [i for i, s in enumerate(all_spans) if s[0] == "setup"]

    def within(i, j):  # span j inside span i's interval
        return all_spans[i][1] <= all_spans[j][1] and all_spans[j][2] <= all_spans[i][2]

    # Engine.register_testdata calls Engine.register: both are
    # catalog.register spans, so their self times count each second once
    for name, key, use_self in (("session.start", "session.start_s", False),
                                ("catalog.register", "catalog.register_s", True),
                                ("setup.warmup", "setup.warmup_s", False)):
        per = [sum((st[j] if use_self else s[2] - s[1]) for j, s in enumerate(all_spans)
                   if s[0] == name and s[2] is not None and within(i, j))
               for i in setups]
        out[key] = stats.median(per) if per else 0.0

    summ = spans.summarize(all_spans, since)

    def mean(name, field="self_s"):
        d = summ.get(name)
        return d[field] / d["calls"] if d and d["calls"] else 0.0

    out["plans.rewrite_s"] = mean("plans.rewrite")
    out["engine.sql_s"] = mean("engine.sql")
    out["engine.insert_s"] = mean("engine.insert", "total_s")
    out["exec.action_s"] = mean("exec.action")
    out["cep.sql_s"] = mean("cep.sql", "total_s")
    out["operators.curate_s"] = mean("op.curate", "total_s")
    out["operators.knn_s"] = mean("op.knn", "total_s")
    out["trace.spans"] = float(len(all_spans))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark, the JVM and the generator
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_1_8_sourcecode_spark", "engine.py")):
        print("perfbench: run from the root of a repository checkout "
              "(flink_1_8_sourcecode_spark/ not found)", file=sys.stderr)
        return 2
    end_to_end, per_layer = declared_metrics(root)

    import harness
    import procmon
    import spans
    import stats

    tracer = spans.Tracer(enabled=bool(args.trace))
    run = harness.Run(root, args.workload, args.seed, args.seconds, tracer)
    harness.prepare_env(run)
    restore = spark = mon = wl = None
    try:
        t_gen = time.perf_counter()
        if args.workload == "batch_mix":
            import wl_batch

            wl = wl_batch.BatchWorkload(run)
        else:
            import wl_stream

            wl = wl_stream.StreamWorkload(run)
        run.detail["inputs"] = {"dims": wl.manifest["dims"], "gen_s": time.perf_counter() - t_gen}
        if args.trace:
            restore = spans.install(tracer, getattr(wl, "trace_hooks", dict)())

        t_run0 = time.perf_counter()
        spark, eng, setup_s, cold_s, warm_s = harness.repeated_setup(run, wl.build)
        if hasattr(wl, "warm_loop"):
            wl.warm_loop(eng)
        mon = procmon.ProcMonitor(harness.jvm_pid()).start()
        run.detail["setup_s"] = {"cold": cold_s, "warm": warm_s}
        groups = harness.JobGroups(spark, enabled=bool(args.trace))
        t_measure = time.perf_counter()
        wl.measure(spark, eng, groups)
        run.detail["measure_s"] = time.perf_counter() - t_measure
        e2e = wl.metrics()
        layer: dict[str, float] = {}
        if args.trace:
            layer.update(groups.summary())
            layer.update(wl.trace_extra(spark, eng))
            layer["host.probe_s"] = harness.host_probe(spark)
        mon.stop()
        run.detail["mem_mb"] = {p: stats.percentile(mon.samples, p) / 2**20 for p in (50, 90, 100)}
        spark.stop()
        spark = None
        harness.shutdown_jvm()
        wl.check()
        run.detail["run_s"] = time.perf_counter() - t_run0
    finally:
        if mon is not None:
            mon.stop()
        if restore is not None:
            restore()
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()
        if hasattr(wl, "close"):
            wl.close()
        run.cleanup()

    metrics: dict[str, tuple[float, str]] = {}
    if args.trace:
        layer.update(layer_from_spans(tracer, t_measure))
        layer.update(wl.layer_metrics())
        layer["setup.cold_s"] = cold_s
        layer["proc.cpu_busy_frac"] = mon.cpu_busy_frac()
        layer["proc.driver_rss_mb"] = mon.peak_driver / 2**20
        layer["proc.worker_rss_mb"] = mon.peak_workers / 2**20
        per_span = tracer.per_span_cost()
        measured_spans = sum(1 for s in tracer.spans if s[1] >= t_measure)
        layer["trace.overhead_frac"] = measured_spans * per_span / run.detail["measure_s"]
        for name, unit in per_layer:
            metrics[name] = (layer.get(name, 0.0), unit)
        run.unobserved.update(UNOBSERVED)
        # layers this workload does not exercise report 0 (predicted flat)
        run.detail["idle"] = [n for n, _ in per_layer if n.split(".")[0] not in wl.LAYERS]
        run.detail["spans"] = spans.summarize(tracer.spans, t_measure)
        trace_dir = os.path.join(root, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_file)
        run.detail["trace_file"] = os.path.relpath(trace_file, root)
        run.detail["end_to_end_traced"] = dict(e2e, setup_s=setup_s)
    else:
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = mon.peak_total / 2**20
        for name, unit in end_to_end:
            metrics[name] = (e2e[name], unit)
    harness.emit(run, metrics)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
