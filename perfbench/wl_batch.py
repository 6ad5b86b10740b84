"""batch_mix: a closed loop with one client over one Engine.

Requests follow a fixed cycle so every seed runs the same mix; the seed
draws each request's parameters (qgen-style).  Kinds:
  Flink-SQL SELECTs through Engine.sql over TPC-H-schema parquet
  (Q1, Q3, Q5, Q10, Q18 and a TUMBLE group window over orders),
  INSERT INTO a registered parquet sink (one request in five),
  a batch MATCH_RECOGNIZE ... WITHIN over the event log (cep/matcher.py),
  corpus curation with near-dup removal written to parquet, and
  top-k cosine queries (operators/similarity.py), alternating.
Each result is checked after the measured window: SQL against the same
SQL in DuckDB on the same files, inserts by reading the sink back,
MATCH_RECOGNIZE against a DuckDB window-function oracle, curation
against the planted duplicates and top-k against numpy.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import harness
import inputs
import oracle
import stats

# 11 slots: 2 INSERTs (about one in five) and Q1 twice, so that no kind's
# share ends exactly at the median and the p50 does not flip between the
# latency levels of two kinds from run to run
CYCLE = ("q1", "q3", "insert", "q5", "mr", "q10", "insert", "tumble", "q18", "knn", "q1")
WARM_CYCLES = 3
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


def select_sql(kind: str, rng) -> tuple[str, str]:
    """(Flink SQL for Engine.sql, the same query in DuckDB SQL)."""
    if kind == "q1":
        d = dt.date(1998, 12, 1) - dt.timedelta(days=int(rng.integers(60, 121)))
        sql = f"""
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_base_price,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= {_ts(d)}
        GROUP BY l_returnflag, l_linestatus"""
        return sql, sql
    if kind == "q3":
        seg = SEGMENTS[rng.integers(0, 5)]
        d = dt.date(1995, 3, 1) + dt.timedelta(days=int(rng.integers(0, 31)))
        sql = f"""
        SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < {_ts(d)} AND l_shipdate > {_ts(d)}
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""
        return sql, sql
    if kind == "q5":
        region = REGIONS[rng.integers(0, 5)]
        y = int(rng.integers(1993, 1998))
        sql = f"""
        SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = '{region}'
          AND o_orderdate >= {_ts(dt.date(y, 1, 1))} AND o_orderdate < {_ts(dt.date(y + 1, 1, 1))}
        GROUP BY n_name"""
        return sql, sql
    if kind == "q10":
        m = int(rng.integers(0, 24))
        d0 = dt.date(1993 + (1 + m) // 12, (1 + m) % 12 + 1, 1)
        m3 = (d0.month - 1 + 3)
        d1 = dt.date(d0.year + m3 // 12, m3 % 12 + 1, 1)
        sql = f"""
        SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
               c_acctbal, n_name
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= {_ts(d0)} AND o_orderdate < {_ts(d1)}
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20"""
        return sql, sql
    if kind == "q18":
        q = int(rng.integers(270, 301))
        sql = f"""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               SUM(l_quantity) AS sum_qty
        FROM customer, orders, lineitem
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                             HAVING SUM(l_quantity) > {q})
          AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"""
        return sql, sql
    if kind == "tumble":
        days = (7, 30)[rng.integers(0, 2)]
        prio = PRIORITIES[rng.integers(0, 5)]
        sql = f"""
        SELECT TUMBLE_START(o_orderdate, INTERVAL '{days}' DAY) AS w_start,
               o_orderstatus, COUNT(*) AS n_orders, SUM(o_totalprice) AS total
        FROM orders WHERE o_orderpriority = '{prio}'
        GROUP BY TUMBLE(o_orderdate, INTERVAL '{days}' DAY), o_orderstatus"""
        duck = f"""
        SELECT time_bucket(INTERVAL {days} DAY, o_orderdate, TIMESTAMP '1970-01-01') AS w_start,
               o_orderstatus, COUNT(*) AS n_orders, SUM(o_totalprice) AS total
        FROM orders WHERE o_orderpriority = '{prio}'
        GROUP BY 1, 2"""
        return sql, duck
    if kind == "mr":
        within = ("'1' HOUR", "'1' DAY")[rng.integers(0, 2)]
        sql = f"""
        SELECT user_id, signup_id, purchase_id
        FROM (SELECT user_id, event_id, ts, event_type FROM events
              WHERE event_type IN ('signup', 'purchase')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S P) WITHIN INTERVAL {within}
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase'
        )"""
        return sql, mr_oracle("events", within.replace("'", ""))
    raise KeyError(kind)


def mr_oracle(table: str, within: str) -> str:
    """DuckDB window-function oracle for PATTERN (S P) WITHIN over the
    signup/purchase subsequence of each user."""
    return f"""
    WITH filtered AS (
      SELECT user_id, event_id, ts, event_type FROM {table}
      WHERE event_type IN ('signup', 'purchase')
    ), seq AS (
      SELECT user_id, event_id, event_type, ts,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id,
             lead(ts) OVER w AS next_ts
      FROM filtered
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS signup_id, next_id AS purchase_id
    FROM seq
    WHERE event_type = 'signup' AND next_type = 'purchase'
      AND next_ts <= ts + INTERVAL {within}"""


def insert_sql(rng, sink: str) -> tuple[str, str]:
    y = int(rng.integers(1992, 1998))
    body = f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        FROM lineitem
        WHERE l_shipdate >= {_ts(dt.date(y, 1, 1))} AND l_shipdate < {_ts(dt.date(y + 1, 1, 1))}"""
    return f"INSERT INTO {sink} {body}", body


class Requests:
    """The seeded request stream: request i has kind CYCLE[i % 11] and
    its own parameters; ``curate()`` makes the one curation request."""

    def __init__(self, seed: int, prefix: str = "r"):
        self.rng = np.random.default_rng([seed, 10])
        self.prefix = prefix
        self.i = 0

    def next(self) -> dict:
        return self._make(CYCLE[self.i % len(CYCLE)])

    def curate(self) -> dict:
        return self._make("curate")

    def _make(self, kind: str) -> dict:
        req = {"i": self.i, "kind": kind, "name": f"{self.prefix}{self.i}"}
        if kind == "insert":
            req["sql"], req["duck"] = insert_sql(self.rng, f"sink_{req['name']}")
        elif kind == "knn":
            req["bucket"] = int(self.rng.integers(0, 4))
        elif kind == "curate":
            req["holdout"] = float(self.rng.choice([0.05, 0.1, 0.2]))
        else:
            req["sql"], req["duck"] = select_sql(kind, self.rng)
        self.i += 1
        return req


class BatchWorkload:
    # metric prefixes (layers) this workload exercises
    LAYERS = ("session", "catalog", "setup", "plans", "engine", "exec", "sql", "cep",
              "operators", "corpus", "proc", "host", "trace")

    def __init__(self, run: harness.Run):
        self.run = run
        self.data = run.dir("data")
        self.manifest = inputs.make_batch_inputs(run.seed, self.data)
        self.results: list[dict] = []

    # -- set-up -------------------------------------------------------
    def build(self, spark):
        from flink_1_8_sourcecode_spark.engine import Engine

        eng = Engine(spark)
        eng.register_testdata(self.data)
        eng.register("knn_queries", spark.read.parquet(f"{self.data}/knn_queries.parquet"))
        # warm-up pass: one request of every looped kind, fixed parameters,
        # issued concurrently the way a server warms its query shapes
        warm = Requests(0, prefix="warm")
        first: dict[str, dict] = {}
        for _ in CYCLE:
            req = warm.next()
            first.setdefault(req["kind"], req)
        with self.run.tracer.span("setup.warmup"):
            with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as ex:
                list(ex.map(lambda r: self.execute(eng, r), first.values()))
        return eng

    # -- one request --------------------------------------------------
    def execute(self, eng, req: dict):
        """Run one request to completion; returns its result."""
        kind = req["kind"]
        if kind == "insert":
            path = self.run.dir("sinks", req["name"])
            eng.register_sink(f"sink_{req['name']}", "parquet", path)
            eng.sql(req["sql"])
            return path
        if kind == "curate":
            from flink_1_8_sourcecode_spark.operators import pipeline

            out = pipeline.curate_corpus(
                eng.table("documents"), neardup=True, lang=None,
                holdout_fraction=req["holdout"],
            )
            path = self.run.dir("curated", req["name"])
            with self.run.tracer.span("exec.action"):
                out.write.mode("overwrite").parquet(path)
            return path
        if kind == "knn":
            from pyspark.sql import functions as F

            from flink_1_8_sourcecode_spark.operators import similarity

            q = eng.table("knn_queries").where(F.col("vec_id") % 4 == req["bucket"])
            res = similarity.cosine_topk_gemm(
                eng.table("embeddings"), q, "vec_id", "embedding", "vec_id", k=10)
            with self.run.tracer.span("exec.action"):
                return res.toPandas()
        df = eng.sql(req["sql"])
        with self.run.tracer.span("exec.action"):
            return df.toPandas()

    # -- measured window ------------------------------------------------
    def warm_loop(self, eng) -> None:
        """WARM_CYCLES untimed cycles before the measured window.  After the
        set-ups a cycle still got faster for about five more cycles (3.8 s
        falling to 2.7 s, one 40 s run), so a window that held four or five
        cycles measured the JVM's warm-up as much as the program."""
        reqs = Requests(0, prefix="pre")
        for _ in range(WARM_CYCLES * len(CYCLE)):
            self.execute(eng, reqs.next())

    def measure(self, spark, eng, groups: harness.JobGroups) -> None:
        """The closed loop for --seconds, run on to the end of the cycle it
        is in, so every run has whole cycles and so the same mix.  Traced
        runs then make one curation request: it takes longer than a third
        of the loop, feeds only per-layer metrics, and so stays out of the
        end-to-end runs."""
        reqs = Requests(self.run.seed)
        t0 = time.perf_counter()
        t_end = t0 + self.run.seconds
        while time.perf_counter() < t_end or reqs.i % len(CYCLE):
            self._timed(eng, groups, reqs.next())
        self.loop_s = time.perf_counter() - t0
        if self.run.tracer.enabled:
            self._timed(eng, groups, reqs.curate())
        self.run.tracer.op = None

    def _timed(self, eng, groups, req: dict) -> None:
        op = f"op{req['i']}-{req['kind']}"
        self.run.tracer.op = op
        groups.set(op)
        t0 = time.perf_counter()
        err = None
        try:
            with self.run.tracer.span(f"op.{req['kind']}"):
                res = self.execute(eng, req)
        except Exception as e:  # a failed request is counted, not fatal
            res, err = None, f"{type(e).__name__}: {e}"[:300]
        req["latency_s"] = time.perf_counter() - t0
        req["result"], req["error"] = res, err
        self.results.append(req)

    # -- checks -------------------------------------------------------
    def check(self) -> None:
        import pyarrow.parquet as pq

        con = oracle.connect(self.data)
        emb = pq.read_table(f"{self.data}/embeddings.parquet")
        qs = pq.read_table(f"{self.data}/knn_queries.parquet")
        exact = set(self.manifest["exact_dup_ids"])
        near = self.manifest["near_dup_pairs"]
        self.lib_stats = []
        for req in self.results:
            ok = req["error"] is None
            if ok:
                try:
                    ok = self._check_one(con, req, emb, qs, exact, near)
                except Exception as e:
                    ok = False
                    req["error"] = f"check {type(e).__name__}: {e}"[:300]
            self.run.record(ok, f"{req['kind']}#{req['i']}" + (f" {req['error']}" if req["error"] else ""))
        con.close()

    def _check_one(self, con, req, emb, qs, exact, near) -> bool:
        kind = req["kind"]
        if kind == "insert":
            got = con.execute(f"SELECT * FROM read_parquet('{req['result']}/*.parquet')").fetchdf()
            return oracle.same_rows(got, con.execute(req["duck"]).fetchdf())
        if kind == "curate":
            import pyarrow.parquet as pq

            kept = set(pq.read_table(req["result"], columns=["doc_id"]).column(0).to_pylist())
            n_docs = con.execute(
                f"SELECT count(*) FROM read_parquet('{self.data}/documents.parquet')").fetchone()[0]
            removed = set(range(n_docs)) - kept
            near_copies = {c for _, c in near}
            recall = len(removed & near_copies) / max(1, len(near_copies))
            removed_near = removed - exact
            precision = len(removed_near & near_copies) / max(1, len(removed_near))
            self.lib_stats.append({"docs_in": n_docs, "docs_out": len(kept),
                                   "near_recall": recall, "near_precision": precision})
            self.run.detail["corpus.near_dup"] = {"recall": recall, "precision": precision}
            # planted exact copies collapse: a copy has a higher id than
            # its original, so no copy may survive (near-dup recall and
            # precision are recorded, not gated: LSH banding without a
            # Jaccard refinement has false positives by design)
            return bool(kept) and not (exact & kept) and kept <= set(range(n_docs))
        if kind == "knn":
            return _check_knn(req["result"], emb, qs, req["bucket"])
        got = req["result"]
        want = con.execute(req["duck"]).fetchdf()
        return oracle.same_rows(got, want)

    def metrics(self) -> dict:
        looped = [r for r in self.results if r["kind"] != "curate"]
        lat = [r["latency_s"] for r in looped]
        by: dict[str, list[float]] = {}
        for r in self.results:
            by.setdefault(r["kind"], []).append(r["latency_s"])
        sel = [x for k, v in by.items() if k in ("q1", "q3", "q5", "q10", "q18", "tumble") for x in v]
        d = self.run.detail
        d["requests"] = {k: {"n": len(v), "p50_s": stats.percentile(v, 50)} for k, v in by.items()}
        d["sql.select"] = harness.tail_summary(sel)
        d["sql.insert_p50_s"] = stats.percentile(by["insert"], 50) if by.get("insert") else None
        d["latency"] = harness.tail_summary(lat)
        if by.get("curate"):
            d["corpus.docs_per_s"] = inputs.BATCH_DIMS["documents"] / by["curate"][0]
        knn = by.get("knn", [])
        d["corpus.knn_qps"] = (inputs.BATCH_DIMS["knn_queries"] / 4) / stats.median(knn) if knn else None
        mr = by.get("mr", [])
        d["cep.batch_eps"] = _n_events(self.data) / stats.median(mr) if mr else None
        n = len(CYCLE)
        d["cycle_s"] = [sum(lat[i:i + n]) for i in range(0, len(lat), n)]
        return {
            "latency_p50_s": d["latency"]["p50"],
            "latency_tail_s": d["latency"]["tail"],
            "throughput_per_s": len(looped) / self.loop_s,
        }

    # -- traced runs only ---------------------------------------------
    def trace_hooks(self) -> dict:
        self._lsh_pairs = []
        return {"operators.lsh_plan": self._lsh_pairs.append}


    def trace_extra(self, spark, eng) -> dict:
        """Layer numbers that need extra Spark work; run after the measured
        window so they never touch the end-to-end figures."""
        import pyarrow.parquet as pq

        out = {}
        exch = bcast = 0
        rng = np.random.default_rng(0)
        for kind in ("q1", "q3", "q5", "q10", "q18", "tumble", "mr"):
            sql, _ = select_sql(kind, rng)
            e, b = harness.count_plan_nodes(eng.explain(sql))
            exch += e
            bcast += b
        out["engine.plan_exchanges"] = float(exch)
        out["engine.plan_broadcasts"] = float(bcast)
        if self._lsh_pairs:
            pairs = self._lsh_pairs[-1].select("id_a", "id_b").toPandas()
            docs = pq.read_table(f"{self.data}/documents.parquet", columns=["doc_id", "text"])
            text = dict(zip(docs.column(0).to_pylist(), docs.column(1).to_pylist()))
            confirmed = 0
            for a, b in zip(pairs.id_a, pairs.id_b):
                sa, sb = _shingles(text[a]), _shingles(text[b])
                if len(sa & sb) / len(sa | sb) >= 0.5:
                    confirmed += 1
            out["operators.lsh_candidate_pairs"] = float(len(pairs))
            out["operators.lsh_confirmed_pairs"] = float(confirmed)
            out["operators.lsh_precision"] = confirmed / len(pairs) if len(pairs) else 0.0
        curated = [r["result"] for r in self.results if r["kind"] == "curate" and r["error"] is None]
        if curated:
            size = sum(os.path.getsize(os.path.join(curated[0], f))
                       for f in os.listdir(curated[0]) if f.endswith(".parquet"))
            out["operators.output_bytes_per_input_byte"] = size / os.path.getsize(
                f"{self.data}/documents.parquet")
        return out


    def layer_metrics(self) -> dict:
        d = self.run.detail
        out = {
            "sql.select_p50_s": d["sql.select"].get("p50", 0.0),
            "sql.select_tail_s": d["sql.select"].get("tail", 0.0),
            "sql.insert_p50_s": d.get("sql.insert_p50_s") or 0.0,
            "cep.batch_eps": d.get("cep.batch_eps") or 0.0,
            "corpus.docs_per_s": d.get("corpus.docs_per_s") or 0.0,
            "corpus.knn_qps": d.get("corpus.knn_qps") or 0.0,
        }
        mr = [r for r in self.results if r["kind"] == "mr" and r["error"] is None]
        if mr:
            out["cep.matches"] = float(stats.median([len(r["result"]) for r in mr]))
        # the MR request's action is the batch matcher's execution
        acts = [r["latency_s"] for r in mr]
        if acts:
            out["cep.batch_action_s"] = stats.median(acts)
        if getattr(self, "lib_stats", None):
            out["operators.docs_in"] = float(self.lib_stats[0]["docs_in"])
            out["operators.docs_out"] = float(stats.median([s["docs_out"] for s in self.lib_stats]))
        return out


def _n_events(data: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{data}/events.parquet").metadata.num_rows


def _check_knn(pdf, emb, qs, bucket: int, k: int = 10) -> bool:
    ids = emb.column("vec_id").to_numpy()
    mat = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    qid = qs.column("vec_id").to_numpy()
    qv = np.stack(qs.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    sel = qid % 4 == bucket
    qid, qv = qid[sel], qv[sel]
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    sims = qv @ mat.T
    sims[qid[:, None] == ids[None, :]] = -np.inf
    if len(pdf) != len(qid) * k:
        return False
    for row, q in enumerate(qid):
        want = np.sort(sims[row])[::-1][:k]
        got = np.sort(pdf.loc[pdf.query_id == q, "cosine"].to_numpy())[::-1]
        if len(got) != k or not np.allclose(got, want, rtol=1e-9, atol=1e-9):
            return False
    return True


def _shingles(text: str, k: int = 3) -> set:
    toks = text.lower().split()
    return {tuple(toks[i:i + k]) for i in range(max(1, len(toks) - k + 1))}
