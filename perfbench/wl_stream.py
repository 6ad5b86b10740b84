"""stream_mix: open-loop streaming, then a bounded CEP replay.

Phase 1 (open loop, fixed-rate ladder).  A separate single-threaded
generator process (streamgen.py) writes events at each ladder rate into
a monitored directory.  A continuous Flink-SQL HOP aggregation runs
through Engine.sql on a watermarked streaming view, in update mode, into
a foreachBatch sink.  Latency samples are result rows: sink receive time
minus the newest ``gen_ts`` (due time) among the row's events, taken on
the first, low-rate step, after an untimed warm step at the same rate.
The last step is above what the program drains, so its backlog grows
and every micro-batch reads the most files a trigger allows; throughput
is the median rate of those full batches.
Rows over the wall time the backlog took to drain would instead follow
how the backlog happened to split into batches (one or two batches read
1.7e5 against 2.3e5 events/s).

Phase 2 (closed, bounded backlog).  The same MATCH_RECOGNIZE ... WITHIN
statement runs through Engine.sql on a streaming view over replayed
chunk files (cep/streaming.py, applyInPandasWithState) and on the batch
table (cep/matcher.py).

Checks: final upserted windows equal a DuckDB aggregate over every
generated event minus the late-by-construction ones; the watermark
dropped exactly the planted late events; streaming matches equal batch
matches and both equal a DuckDB window-function oracle.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa

import harness
import inputs
import oracle
import stats
import streamgen
import wl_batch

# ladder: (rate in events/s, share of --seconds); the first step is the
# latency reference rate, the last one is above what the program drains
LADDER = ((10_000, 0.75), (60_000, 0.1), (720_000, 0.15))
# untimed seconds at the reference rate before the ladder: over the first
# seconds of a stream its micro-batches still got faster as the JVM warmed
WARM_STEP_S = 4.0
LATENCY_LIMIT_S = 5.0  # tail latency a sustained rate must meet
HOP_SLIDE_S, HOP_SIZE_S = 1, 10
WATERMARK = "3 seconds"  # >= tick + out-of-order bound + margin
PRIME_EVENTS = 500
# late events are an hour or more before the stream's event-time origin
LATE_BEFORE = "TIMESTAMP '2023-12-31 23:30:00'"

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)
STREAM_SCHEMA = EVENTS_SCHEMA + ", gen_ts timestamp"
# A micro-batch reads at most this many generator files.  At the
# reference rate (one file per tick) that is 3 s of input, far more than
# a ~1 s batch finds waiting, so it does not bind; on the backlogged top
# step (six full files per tick) every batch reads exactly this many
# full files, so the drain rate is measured on batches of one size.
MAX_FILES_PER_TRIGGER = 12
HOP_SQL = f"""
SELECT user_id,
       HOP_START(ts, INTERVAL '{HOP_SLIDE_S}' SECOND, INTERVAL '{HOP_SIZE_S}' SECOND) AS w_start,
       COUNT(*) AS n, SUM(value) AS total, MAX(gen_ts) AS max_gen
FROM ev
WHERE get_json_object(props, '$.src') <> 's6'
GROUP BY HOP(ts, INTERVAL '{HOP_SLIDE_S}' SECOND, INTERVAL '{HOP_SIZE_S}' SECOND), user_id
"""
MR_WITHIN = "1 HOUR"
MR_SQL = """
SELECT user_id, signup_id, purchase_id
FROM (SELECT user_id, event_id, ts, event_type FROM {src}
      WHERE event_type IN ('signup', 'purchase', 'noop')) MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (S P) WITHIN INTERVAL '1' HOUR
  DEFINE S AS S.event_type = 'signup',
         P AS P.event_type = 'purchase'
)
"""


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class HopSink:
    """foreachBatch target: keeps each batch's rows (for the final-window
    check) and the per-row latency against ``max_gen``."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.batches: list[dict] = []
        self.tables: list[pa.Table] = []

    def __call__(self, bdf, batch_id: int) -> None:
        t_recv = time.time()
        with self.tracer.span("streaming.sink"):
            tb = bdf.toArrow()
        t_done = time.time()
        if tb.num_rows:
            mg = tb.column("max_gen").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
            lat = (t_recv - mg / 1e6).astype(np.float64)
            self.tables.append(pa.table({
                "user_id": tb.column("user_id"),
                "w_start": tb.column("w_start").cast(pa.timestamp("us")),
                "n": tb.column("n"),
                "total": tb.column("total"),
                "batch_id": pa.array(np.full(tb.num_rows, batch_id, np.int64)),
            }))
        else:
            lat = np.zeros(0)
        self.batches.append({"id": batch_id, "t": t_recv, "lat": lat, "sink_s": t_done - t_recv})


def _stream_view(spark, path: str):
    return (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(path)
        .withWatermark("ts", WATERMARK)
    )


class StreamWorkload:
    # metric prefixes (layers) this workload exercises
    LAYERS = ("session", "catalog", "setup", "plans", "engine", "exec", "streaming", "stream",
              "cep", "proc", "host", "trace")

    def __init__(self, run: harness.Run):
        self.run = run
        self.cep_dir = run.dir("cep")
        cep = inputs.make_cep_chunks(run.seed, self.cep_dir)
        self.n_cep = cep["events"]
        dims = dict(inputs.STREAM_DIMS)
        dims["ladder_eps"] = [r for r, _ in LADDER]
        dims["hop"] = f"{HOP_SLIDE_S}s/{HOP_SIZE_S}s"
        dims["watermark"] = WATERMARK
        self.manifest = {"dims": dims}
        self.gen = None
        self.warm_dir = run.dir("warm", "in")
        warm = inputs.StreamSource(run.seed ^ 0x5EED).tick(PRIME_EVENTS, 0.0, False)
        streamgen.write_atomic(streamgen.with_gen_ts(warm, time.time()),
                               os.path.dirname(self.warm_dir), self.warm_dir, "w0.parquet")

    # -- set-up -------------------------------------------------------
    def build(self, spark):
        """Session, a table over a small warm-up file of the stream's
        shape, and the HOP statement run once over it as a batch query.
        The live query's prime micro-batch then warms the streaming path
        before the ladder starts (``stream.prime_s``)."""
        from flink_1_8_sourcecode_spark.engine import Engine

        eng = Engine(spark)
        eng.register("ev", spark.read.schema(STREAM_SCHEMA).parquet(self.warm_dir))
        with self.run.tracer.span("setup.warmup"):
            eng.sql(HOP_SQL).toArrow()
        return eng

    # -- measured window ----------------------------------------------
    def measure(self, spark, eng, groups: harness.JobGroups) -> None:
        run = self.run
        self.in_dir = run.dir("live", "in")
        tmp_dir = os.path.dirname(self.in_dir)
        start_file = run.path("live", "go")
        self.gen_log = run.path("live", "gen.jsonl")
        secs = [max(1.0, run.seconds * share) for _, share in LADDER]
        secs = [round(s / inputs.STREAM_DIMS["tick_s"]) * inputs.STREAM_DIMS["tick_s"] for s in secs]
        self.schedule = [(LADDER[0][0], WARM_STEP_S)] + [
            (r, s) for (r, _), s in zip(LADDER, secs)]
        sched = ",".join(f"{r}:{s}" for r, s in self.schedule)
        env = dict(os.environ, **streamgen.SINGLE_THREAD_ENV)
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "streamgen.py"),
             "--seed", str(run.seed), "--dir", self.in_dir, "--tmp", tmp_dir,
             "--log", self.gen_log, "--start-file", start_file, "--schedule", sched,
             "--tick", str(inputs.STREAM_DIMS["tick_s"]), "--prime", str(PRIME_EVENTS)],
            env=env, stdout=subprocess.DEVNULL,
        )
        src = inputs.StreamSource(run.seed)
        self.prime_wall = time.time()
        streamgen.write_atomic(
            streamgen.with_gen_ts(src.tick(PRIME_EVENTS, 0.0, False), self.prime_wall),
            tmp_dir, self.in_dir, "ev000000.parquet")

        groups.set("stream-hop")
        run.tracer.op = "stream-hop"
        eng.register("ev", _stream_view(spark, self.in_dir))
        self.sink = HopSink(run.tracer)
        q = (eng.sql(HOP_SQL).writeStream.outputMode("update").foreachBatch(self.sink)
             .option("checkpointLocation", run.path("live", "ckpt")).start())
        t_prime = time.perf_counter()
        q.processAllAvailable()  # the prime batch sets the first watermark
        run.detail["stream.prime_s"] = time.perf_counter() - t_prime
        deadline = time.time() + 60  # the generator makes its events first
        while (not os.path.exists(start_file + ".ready") and self.gen.poll() is None
               and time.time() < deadline):
            time.sleep(0.01)
        self.t0 = time.time() + 0.2
        with open(start_file + ".tmp", "w") as f:
            f.write(repr(self.t0))
        os.rename(start_file + ".tmp", start_file)
        total = sum(s for _, s in self.schedule)
        try:
            rc = self.gen.wait(timeout=total + 60)
        except subprocess.TimeoutExpired:
            self.gen.kill()
            rc = self.gen.wait()
        self.gen_rc = rc
        t_gen_end = time.time()
        q.processAllAvailable()  # drain the backlog the top step left
        self.drain_s = time.time() - t_gen_end
        self.hop_progress = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        run.tracer.op = None
        if run.tracer.enabled:
            self.cep_phase(spark, eng, groups)

    def cep_phase(self, spark, eng, groups: harness.JobGroups) -> None:
        """Traced runs only: the same MATCH_RECOGNIZE on a stream of
        replayed files and on the batch table (closed, bounded backlog).
        It feeds per-layer metrics only, and its two micro-batches of the
        Python NFA would take half the end-to-end run."""
        run = self.run
        groups.set("cep-stream")
        run.tracer.op = "cep-stream"
        eng.register("cep_stream", spark.readStream.schema(EVENTS_SCHEMA)
                     .option("maxFilesPerTrigger", 1).parquet(self.cep_dir))
        self.cep_rows = []
        t0 = time.perf_counter()
        out = eng.sql(MR_SQL.format(src="cep_stream"))
        cq = (out.writeStream.outputMode("append")
              .foreachBatch(lambda df, i: self.cep_rows.append(df.toPandas()))
              .option("checkpointLocation", run.dir("cep_ckpt")).start())
        cq.processAllAvailable()
        self.cep_stream_s = time.perf_counter() - t0
        self.cep_progress = [json.loads(p.json) for p in cq.recentProgress]
        run.detail["cep.stream_batches_s"] = [
            p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in self.cep_progress]
        cq.stop()
        groups.set("cep-batch")
        run.tracer.op = "cep-batch"
        eng.register("cep_batch", spark.read.parquet(self.cep_dir))
        t0 = time.perf_counter()
        with run.tracer.span("exec.action"):
            self.cep_batch = eng.sql(MR_SQL.format(src="cep_batch")).toPandas()
        self.cep_batch_s = time.perf_counter() - t0
        run.tracer.op = None

    def close(self) -> None:
        if self.gen is not None and self.gen.poll() is None:
            self.gen.kill()
            self.gen.wait()

    # -- derived series -------------------------------------------------
    def _gen_records(self) -> list[dict]:
        with open(self.gen_log) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _steps(self) -> list[tuple[float, float, int]]:
        out, t = [], self.t0
        for rate, secs in self.schedule:
            out.append((t, t + secs, rate))
            t += secs
        return out

    def series(self) -> dict:
        """Per-step latency, backlog and drain figures."""
        gen = self._gen_records()
        written = [(self.prime_wall, PRIME_EVENTS)] + [(g["done"], g["n"]) for g in gen]
        batches = []
        for p in self.hop_progress:
            start = _epoch(p["timestamp"])
            dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
            batches.append((start, start + dur, p["numInputRows"], dur))
        processed_end = []
        cum = 0
        for b in sorted(batches, key=lambda b: b[1]):
            cum += b[2]
            processed_end.append((b[1], cum))

        def backlog_at(t):
            w = sum(n for tw, n in written if tw <= t)
            p = max([c for te, c in processed_end if te <= t], default=0)
            return w - p

        steps = []
        for a, b, rate in self._steps()[1:]:
            # sawtooth floors (right after each batch) in the step's second
            # half, once the batch size has adapted to the new rate
            times = [te for te, _ in processed_end if (a + b) / 2 <= te <= b]
            if len(times) < 2:
                times = [te for te, _ in processed_end if a <= te <= b]
            lat = [x for bt in self.sink.batches if a <= bt["t"] <= b for x in bt["lat"]]
            in_step = [bb for bb in batches if a <= bb[0] < b]
            busy = sum(bb[3] for bb in in_step)
            rows = sum(bb[2] for bb in in_step)
            bl = [backlog_at(t) for t in times]
            steps.append({
                "rate": rate,
                "backlog_start": backlog_at(a),
                "backlog_end": backlog_at(b),
                "grows": stats.backlog_grows([t - a for t in times], bl, rate),
                "latency": harness.tail_summary(lat),
                "lat": lat,
                "drain_eps": rows / busy if busy else 0.0,
                "batches": len(in_step),
            })
        # drain rate under backlog: every batch from the top step's start
        # to the end of the drain, over the wall time they span
        top = self._steps()[-1][0]
        over = [bb for bb in batches if bb[0] >= top and bb[2] > 0]
        span = max((bb[1] for bb in over), default=0) - min((bb[0] for bb in over), default=0)
        overload = sum(bb[2] for bb in over) / span if span > 0 else 0.0
        full_rows = MAX_FILES_PER_TRIGGER * inputs.STREAM_DIMS["file_events"]
        full = [bb[2] / bb[3] for bb in batches if bb[2] >= full_rows and bb[3] > 0]
        return {"steps": steps, "overload_drain_eps": overload, "full_batch_eps": full,
                "gen_lag_max": max((g["lag"] for g in gen), default=0.0),
                "late_planted": sum(g["late"] for g in gen),
                "events": PRIME_EVENTS + sum(g["n"] for g in gen)}

    def metrics(self) -> dict:
        s = self.series()
        self._series = s
        d = self.run.detail
        steps = s["steps"]
        # the highest rate of the leading run of steps that kept up (a
        # step too short to show two backlog floors does not count as kept)
        sustained = 0
        for st in steps:
            if st["grows"] is not False or st["latency"].get("tail", 1e9) > LATENCY_LIMIT_S:
                break
            sustained = st["rate"]
        d["stream.sustained_eps"] = sustained
        d["stream.latency"] = {k: v for k, v in steps[0]["latency"].items()}
        d["ladder"] = [{k: v for k, v in st.items() if k != "lat"} for st in steps]
        d["streaming.gen_lag_max_s"] = s["gen_lag_max"]
        d["stream.drain_s"] = self.drain_s
        if hasattr(self, "cep_batch"):
            d["cep.stream_eps"] = self.n_cep / self.cep_stream_s
            d["cep.batch_eps"] = self.n_cep / self.cep_batch_s
        ref = steps[0]["lat"]
        d["stream.overload_drain_eps"] = s["overload_drain_eps"]
        d["stream.full_batch_eps"] = s["full_batch_eps"]
        return {
            "latency_p50_s": stats.percentile(ref, 50),
            "latency_tail_s": stats.tail(ref)[0],
            "throughput_per_s": stats.median(s["full_batch_eps"]) if s["full_batch_eps"] else 0.0,
        }

    # -- checks -------------------------------------------------------
    def check(self) -> None:
        import duckdb

        run = self.run
        run.record(self.gen_rc == 0, f"generator exit {self.gen_rc}")
        # throughput_per_s measures the program only if the top step backs
        # up (the program drains less than arrives, so its batches fill)
        # while the generator holds its schedule
        s = self._series
        top = s["steps"][-1]
        run.record(top["backlog_end"] > top["backlog_start"] and s["full_batch_eps"]
                   and s["overload_drain_eps"] < top["rate"],
                   f"top step not program-bound: backlog {top['backlog_start']} -> "
                   f"{top['backlog_end']}, {len(s['full_batch_eps'])} full batches, "
                   f"drain {s['overload_drain_eps']:.0f}/s")
        run.record(s["gen_lag_max"] < inputs.STREAM_DIMS["tick_s"],
                   f"generator ran {s['gen_lag_max']:.3f} s late")
        con = duckdb.connect()
        con.execute(f"SET threads={os.cpu_count() or 1}")
        con.register("sink", pa.concat_tables(self.sink.tables))
        con.execute(f"""
            CREATE TEMP TABLE ev AS SELECT * FROM read_parquet('{self.in_dir}/*.parquet')
            WHERE json_extract_string(props, '$.src') <> 's6'""")
        mismatched, n_windows = con.execute(f"""
            WITH got AS (
              SELECT user_id, w_start, n, total FROM sink
              QUALIFY row_number() OVER (PARTITION BY user_id, w_start
                                         ORDER BY batch_id DESC) = 1),
            want AS (
              SELECT user_id, date_trunc('second', ts) - to_seconds(k) AS w_start,
                     COUNT(*) AS n, SUM(value) AS total
              FROM ev, range({HOP_SIZE_S // HOP_SLIDE_S}) r(k)
              WHERE ts >= {LATE_BEFORE}
              GROUP BY 1, 2)
            SELECT count(*) FILTER (WHERE got.n IS DISTINCT FROM want.n
                                    OR got.total IS NULL OR want.total IS NULL
                                    OR abs(got.total - want.total)
                                       > 1e-9 * greatest(1, abs(want.total))),
                   count(*)
            FROM got FULL OUTER JOIN want USING (user_id, w_start)""").fetchone()
        run.detail["stream.final_windows"] = {"windows": n_windows, "mismatched": mismatched}
        run.record(mismatched == 0 and n_windows > 0, "stream final windows")
        # every planted late event that passes the WHERE clause must be
        # dropped by the watermark (each one falls into HOP_SIZE/HOP_SLIDE
        # windows of its own)
        expected = con.execute(f"SELECT count(*) FROM ev WHERE ts < {LATE_BEFORE}").fetchone()[0]
        dropped = sum(sum(o.get("numRowsDroppedByWatermark", 0) for o in p["stateOperators"])
                      for p in self.hop_progress)
        self.late_dropped = dropped / (HOP_SIZE_S // HOP_SLIDE_S)
        run.detail["streaming.late"] = {"planted": self._series["late_planted"],
                                        "planted_after_filter": expected,
                                        "dropped_events": self.late_dropped}
        run.record(expected > 0 and self.late_dropped == expected, "late events dropped")
        if hasattr(self, "cep_batch"):
            self.check_cep(con)
        con.close()

    def check_cep(self, con) -> None:
        """Streaming matches == batch matches == DuckDB oracle."""
        import pandas as pd

        run = self.run

        stream = pd.concat(self.cep_rows) if self.cep_rows else pd.DataFrame(
            columns=["user_id", "signup_id", "purchase_id"])
        stream = stream[stream.user_id >= 0]
        con.execute(f"CREATE VIEW cep_events AS SELECT * FROM read_parquet('{self.cep_dir}/*.parquet')")
        want = con.execute(wl_batch.mr_oracle("cep_events", MR_WITHIN)).fetchdf()
        self.cep_matches = len(want)
        run.record(oracle.same_rows(stream.reset_index(drop=True), want), "cep stream vs oracle")
        run.record(oracle.same_rows(self.cep_batch, want), "cep batch vs oracle")

    # -- traced runs --------------------------------------------------
    def trace_extra(self, spark, eng) -> dict:
        # Engine.explain needs a batch plan: the same statement over the
        # generated files read as a table
        eng.register("ev", spark.read.schema(STREAM_SCHEMA).parquet(self.in_dir)
                     .withWatermark("ts", WATERMARK))
        e, b = harness.count_plan_nodes(eng.explain(HOP_SQL))
        return {"engine.plan_exchanges": float(e), "engine.plan_broadcasts": float(b)}

    def layer_metrics(self) -> dict:
        d = self.run.detail
        ladder_start = self._steps()[1][0]
        prog = [p for p in self.hop_progress
                if p["numInputRows"] > 0 and _epoch(p["timestamp"]) >= ladder_start]
        dur = lambda p, k: p["durationMs"].get(k, 0) / 1000.0  # noqa: E731
        mean = lambda xs: float(np.mean(xs)) if xs else 0.0  # noqa: E731
        batch = [dur(p, "triggerExecution") for p in prog]
        out = {
            "streaming.batch_p50_s": stats.percentile(batch, 50) if batch else 0.0,
            "streaming.batch_tail_s": stats.tail(batch)[0] if batch else 0.0,
            "streaming.latest_offset_s": mean([dur(p, "latestOffset") for p in prog]),
            "streaming.get_batch_s": mean([dur(p, "getBatch") for p in prog]),
            "streaming.planning_s": mean([dur(p, "queryPlanning") for p in prog]),
            "streaming.add_batch_s": mean([dur(p, "addBatch") for p in prog]),
            "streaming.wal_commit_s": mean([dur(p, "walCommit") for p in prog]),
            "streaming.commit_offsets_s": mean([dur(p, "commitOffsets") for p in prog]),
            "streaming.rows_per_batch": mean([p["numInputRows"] for p in prog]),
            "streaming.state_rows": float(max(
                (sum(o["numRowsTotal"] for o in p["stateOperators"]) for p in prog), default=0)),
            "streaming.state_bytes": float(max(
                (sum(o["memoryUsedBytes"] for o in p["stateOperators"]) for p in prog), default=0)),
            "streaming.state_commit_s": mean([
                sum(o.get("commitTimeMs", 0) for o in p["stateOperators"]) / 1000.0 for p in prog]),
            "streaming.late_dropped": float(self.late_dropped),
            "streaming.sink_s": mean([b["sink_s"] for b in self.sink.batches]),
            "streaming.gen_lag_s": float(self._series["gen_lag_max"]),
            "stream.sustained_eps": float(d["stream.sustained_eps"]),
            "stream.latency_p50_s": d["stream.latency"].get("p50", 0.0),
            "stream.latency_tail_s": d["stream.latency"].get("tail", 0.0),
            "cep.stream_eps": d.get("cep.stream_eps", 0.0),
            "cep.batch_eps": d.get("cep.batch_eps", 0.0),
            "cep.batch_action_s": getattr(self, "cep_batch_s", 0.0),
            "cep.matches": float(getattr(self, "cep_matches", 0)),
        }
        for k, st in enumerate(self._series["steps"], 1):
            out[f"streaming.backlog_events.step{k}_start"] = float(st["backlog_start"])
            out[f"streaming.backlog_events.step{k}_end"] = float(st["backlog_end"])
        cprog = [p for p in getattr(self, "cep_progress", []) if p["numInputRows"] > 0]
        out["cep.stream_batch_s"] = stats.percentile(
            [dur(p, "triggerExecution") for p in cprog], 50) if cprog else 0.0
        out["cep.state_rows"] = float(max(
            (sum(o["numRowsTotal"] for o in p["stateOperators"]) for p in cprog), default=0))
        out["cep.state_bytes"] = float(max(
            (sum(o["memoryUsedBytes"] for o in p["stateOperators"]) for p in cprog), default=0))
        return out
