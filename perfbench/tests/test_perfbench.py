"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import inputs  # noqa: E402
import run as bench_run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import wl_batch  # noqa: E402


# -- seeded inputs ------------------------------------------------------------

def test_same_seed_same_inputs(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    ma = inputs.make_batch_inputs(7, str(a))
    mb = inputs.make_batch_inputs(7, str(b))
    inputs.make_batch_inputs(8, str(c))
    assert ma == mb
    assert inputs.checksums(str(a)) == inputs.checksums(str(b))
    diff = inputs.checksums(str(a)), inputs.checksums(str(c))
    assert diff[0]["events.parquet"] != diff[1]["events.parquet"]
    assert diff[0]["documents.parquet"] != diff[1]["documents.parquet"]


def test_same_seed_same_stream(tmp_path):
    ticks = []
    for _ in range(2):
        src = inputs.StreamSource(3)
        ticks.append([src.tick(4000, 1.0 + i * 0.25, allow_late=i > 0) for i in range(6)])
    assert all(x.equals(y) for x, y in zip(*ticks))
    late = sum(t.column("late").to_numpy().sum() for t in ticks[0])
    assert late > 0
    for d in ("x", "y"):
        inputs.make_cep_chunks(3, str(tmp_path / d))
    assert inputs.checksums(str(tmp_path / "x")) == inputs.checksums(str(tmp_path / "y"))


def test_planted_duplicates_have_higher_ids():
    import numpy as np

    tbl, exact, near = inputs.documents(np.random.default_rng(1), 400, 0.05, 0.05)
    assert len(exact) == 20 and len(near) == 20
    assert all(o < c for o, c in near)
    texts = tbl.column("text").to_pylist()
    norm = [" ".join(t.lower().split()) for t in texts]
    originals = {norm.index(norm[e]) for e in exact}
    assert all(o < e for o, e in zip(sorted(originals), sorted(exact)))


# -- tail percentile ------------------------------------------------------------

@pytest.mark.parametrize("n,p", [(5, 50.0), (19, 50.0), (20, 50.0), (40, 75.0),
                                 (77, 87.0), (100, 90.0), (500, 90.0), (10**6, 90.0)])
def test_tail_percentile(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_keeps_ten_samples_beyond():
    for n in (20, 33, 57, 240, 5000):
        values = list(range(n))
        v, p, count = stats.tail(values)
        assert count == n
        assert sum(1 for x in values if x > v) >= stats.TAIL_MIN_BEYOND
        assert v == pytest.approx(stats.percentile(values, p))


# -- backlog growth -------------------------------------------------------------

def test_backlog_detector_growing_and_flat():
    rate = 100_000
    times = [0.0, 1.1, 2.3, 3.2, 4.4]
    growing = [20_000 + 0.5 * rate * t for t in times]
    flat = [60_000, 58_000, 61_000, 59_500, 60_500]
    assert stats.backlog_grows(times, growing, rate)
    assert not stats.backlog_grows(times, flat, rate)
    assert stats.backlog_grows([1.0], [10**9], rate) is None


# -- self time --------------------------------------------------------------------

def test_self_time_subtracts_child_union():
    s = [
        ["op", 0.0, 10.0, None, "a"],
        ["engine.sql", 1.0, 4.0, 0, "a"],
        ["plans.rewrite", 2.0, 3.0, 1, "a"],
        ["exec.action", 3.5, 6.0, 0, "a"],  # overlaps the first child
        ["exec.action", 9.0, 12.0, 0, "a"],  # clipped to the parent
    ]
    assert spans.self_times(s) == pytest.approx([10 - (6 - 1) - 1, 2.0, 1.0, 2.5, 3.0])
    summ = spans.summarize(s)
    assert summ["exec.action"]["calls"] == 2
    assert summ["exec.action"]["self_s"] == pytest.approx(5.5)


def test_tracer_nests_and_restores():
    import importlib

    tr = spans.Tracer(enabled=True)
    mod = importlib.import_module("flink_1_8_sourcecode_spark.plans.sql_rewrite") \
        if os.path.isdir(os.path.join(ROOT, "flink_1_8_sourcecode_spark")) else None
    if mod is None:
        pytest.skip("program not in this checkout")
    eng_mod = importlib.import_module("flink_1_8_sourcecode_spark.engine")
    orig = eng_mod.rewrite_flink_sql
    restore = spans.install(tr)
    try:
        with tr.span("op"):
            eng_mod.rewrite_flink_sql("SELECT 1")
    finally:
        restore()
    assert eng_mod.rewrite_flink_sql is orig
    assert [s[0] for s in tr.spans] == ["op", "plans.rewrite"]
    assert tr.spans[1][3] == 0


# -- a corrupted result is a failure ---------------------------------------------

def _run(tmp_path):
    return harness.Run(str(tmp_path), "batch_mix", 5, 1.0, spans.Tracer(False))


def test_corrupted_result_raises_failed_frac(tmp_path):
    import oracle

    run = _run(tmp_path)
    wl = wl_batch.BatchWorkload(run)
    con = oracle.connect(wl.data)
    reqs = wl_batch.Requests(5)
    done = []
    while len(done) < 6:
        req = reqs.next()
        if req["kind"] in ("q1", "q3", "q5", "mr"):
            req["result"] = con.execute(req["duck"]).fetchdf()
            req["error"] = None
            done.append(req)
    con.close()
    wl.results = done
    wl.check()
    assert (run.attempted, run.failed) == (6, 0)

    bad = done[0]["result"].copy()
    col = [c for c in bad.columns if pd.api.types.is_float_dtype(bad[c])][0]
    bad.loc[0, col] = bad.loc[0, col] * 1.01 + 1
    done[0]["result"] = bad
    done[1]["error"] = "TimeoutError"
    run2 = _run(tmp_path / "second")
    wl.run = run2
    wl.check()
    assert (run2.attempted, run2.failed) == (6, 2)
    run.cleanup()


def test_same_rows_tolerates_order_and_float_noise():
    import oracle

    a = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
    b = pd.DataFrame({"v": [2.0 + 1e-12, 1.0], "k": [2, 1]})
    assert oracle.same_rows(a, b)
    assert not oracle.same_rows(a, b.assign(v=[2.1, 1.0]))
    assert not oracle.same_rows(a, b.iloc[:1])


# -- the declared metrics ---------------------------------------------------------

def test_benchmark_json_names_the_implemented_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(bench_run.WORKLOADS)
    e2e, layer = bench_run.declared_metrics(ROOT)
    assert ("setup_s", "s") in e2e and ("setup.cold_s", "s") in layer


def test_refuses_to_run_without_the_program(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "batch_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
