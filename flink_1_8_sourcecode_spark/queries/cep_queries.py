"""CEP query inventory (SURVEY.md §2.14) — the pattern-DSL surface run
end-to-end on the events table, with SQL oracles where the pattern is
relationally expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_8_sourcecode_spark.catalog import table
from flink_1_8_sourcecode_spark.cep import Pattern, match_pattern
from flink_1_8_sourcecode_spark.queries import register


@register(
    "cep_funnel_signup_purchase",
    oracle="""
    WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
         p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         ranked AS (
           SELECT s.user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
                  row_number() OVER (PARTITION BY s.event_id
                                     ORDER BY p.ts, p.event_id) AS rn
           FROM s JOIN p
             ON s.user_id = p.user_id
            AND (p.ts, p.event_id) > (s.ts, s.event_id)
            AND p.ts <= s.ts + INTERVAL 30 MINUTE
         )
    SELECT user_id, signup_id, purchase_id FROM ranked WHERE rn = 1
    """,
    doc="CEP funnel: signup followedBy purchase within 30min "
    "(Pattern.begin/followedBy/within, Pattern.java:128,321,244; "
    "followedBy = first qualifying occurrence, NFA.java semantics).",
)
def cep_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    pat = (
        Pattern.begin("signup")
        .where(lambda e: e["event_type"] == "signup")
        .followed_by("purchase")
        .where(lambda e: e["event_type"] == "purchase")
        .within("30 minutes")
    )
    m = match_pattern(
        ev, pat, key="user_id", time_col="ts", select_cols=["event_id"], tiebreak="event_id"
    )
    wide = (
        m.groupBy("user_id", "match_id")
        .pivot("stage", ["signup", "purchase"])
        .agg(F.first("event_id"))
    )
    return wide.select(
        "user_id",
        F.col("signup").alias("signup_id"),
        F.col("purchase").alias("purchase_id"),
    )


@register(
    "cep_funnel_timeout",
    oracle="""
    SELECT user_id, event_id AS signup_id FROM events s
    WHERE event_type = 'signup' AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
        AND (p.ts, p.event_id) > (s.ts, s.event_id)
        AND p.ts <= s.ts + INTERVAL 30 MINUTE)
    """,
    doc="CEP timeout side channel (PatternStream.select(timeoutTag, ...), "
    "flink-libraries/flink-cep/.../PatternStream.java): signups whose "
    "funnel never completed within 30min, emitted as timed-out partial "
    "matches — the other half of every funnel analysis.",
)
def cep_funnel_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    pat = (
        Pattern.begin("signup")
        .where(lambda e: e["event_type"] == "signup")
        .followed_by("purchase")
        .where(lambda e: e["event_type"] == "purchase")
        .within("30 minutes")
    )
    m = match_pattern(
        ev, pat, key="user_id", time_col="ts", select_cols=["event_id"],
        tiebreak="event_id", emit_timeouts=True,
    )
    return (
        m.filter(F.col("timed_out") & (F.col("stage") == "signup"))
        .select("user_id", F.col("event_id").alias("signup_id"))
    )


@register(
    "cep_match_recognize_sql",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS signup_id, next_id AS purchase_id
    FROM seq WHERE event_type = 'signup' AND next_type = 'purchase'
    """,
    doc="SQL MATCH_RECOGNIZE (DataStreamMatch.scala:65): signup "
    "immediately followed by purchase (strict row contiguity), via the "
    "cep.match_recognize subset.",
)
def cep_match_recognize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.cep.match_recognize import match_recognize

    ev = table(spark, sf_dir, "events")
    return match_recognize(
        ev,
        """
        PARTITION BY user_id
        ORDER BY ts
        MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (S P)
        DEFINE S AS S.event_type = 'signup',
               P AS P.event_type = 'purchase'
        """,
    )


@register(
    "cep_error_burst",
    oracle="""
    WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
         trip AS (
           SELECT a.user_id, a.event_id AS e1, b.event_id AS e2, c.event_id AS e3,
                  row_number() OVER (PARTITION BY a.event_id
                                     ORDER BY b.ts, b.event_id, c.ts, c.event_id) AS rn
           FROM e a
           JOIN e b ON a.user_id = b.user_id AND (b.ts, b.event_id) > (a.ts, a.event_id)
           JOIN e c ON a.user_id = c.user_id AND (c.ts, c.event_id) > (b.ts, b.event_id)
          WHERE c.ts <= a.ts + INTERVAL 2 HOUR
         )
    SELECT user_id, e1, e2, e3 FROM trip WHERE rn = 1
    """,
    doc="CEP times(3): three errors within 2h per user "
    "(quantifier iterations relaxed — Flink times() default).",
)
def cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    pat = (
        Pattern.begin("err")
        .where(lambda e: e["event_type"] == "error")
        .times(3)
        .within("2 hours")
    )
    m = match_pattern(
        ev, pat, key="user_id", time_col="ts", select_cols=["event_id"], tiebreak="event_id"
    )
    wide = (
        m.withColumn("slot", F.concat(F.lit("e"), F.col("seq") + 1))
        .groupBy("user_id", "match_id")
        .pivot("slot", ["e1", "e2", "e3"])
        .agg(F.first("event_id"))
    )
    return wide.select("user_id", "e1", "e2", "e3")


@register(
    "cep_match_recognize_all_rows",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type, value, props,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id,
             lag(event_type) OVER w AS prev_type,
             lag(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, ts, event_type, value, props,
           'S' AS classifier, event_id AS signup_id, next_id AS purchase_id
    FROM seq WHERE event_type = 'signup' AND next_type = 'purchase'
    UNION ALL
    SELECT user_id, event_id, ts, event_type, value, props,
           'P' AS classifier, prev_id AS signup_id, event_id AS purchase_id
    FROM seq WHERE event_type = 'purchase' AND prev_type = 'signup'
    """,
    doc="MATCH_RECOGNIZE ALL ROWS PER MATCH: one output row per matched "
    "event with CLASSIFIER() and FINAL measures.  Documented superset — "
    "the reference's planner gates this mode (DataStreamMatch.scala:"
    "182-183 'All rows per match mode is not supported yet').",
)
def cep_match_recognize_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.cep.match_recognize import match_recognize

    ev = table(spark, sf_dir, "events")
    return match_recognize(
        ev,
        """
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
        ALL ROWS PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (S P)
        DEFINE S AS S.event_type = 'signup',
               P AS P.event_type = 'purchase'
        """,
    )


@register(
    "cep_match_recognize_sql_derived",
    oracle="""
    WITH filtered AS (
      SELECT user_id, event_id, ts, event_type FROM events
      WHERE event_type IN ('signup', 'purchase')
    ), seq AS (
      SELECT user_id, event_id, event_type,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id
      FROM filtered
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS signup_id, next_id AS purchase_id
    FROM seq WHERE event_type = 'signup' AND next_type = 'purchase'
    """,
    doc="SQL MATCH_RECOGNIZE over a DERIVED-TABLE source routed through "
    "Engine.sql — the reference planner accepts any relational input "
    "(DataStreamMatch.scala:65 builds from an arbitrary RelNode); here "
    "the source is a filtered subquery, so signup->purchase adjacency "
    "is over the filtered sequence, not raw events.",
)
def cep_match_recognize_sql_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("events", table(spark, sf_dir, "events"))
    return eng.sql(
        """
        SELECT user_id, signup_id, purchase_id
        FROM (SELECT user_id, event_id, ts, event_type FROM events
              WHERE event_type IN ('signup', 'purchase')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S P)
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase'
        )
        """
    )


@register(
    "cep_match_recognize_within",
    oracle="""
    WITH filtered AS (
      SELECT user_id, event_id, ts, event_type FROM events
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
      AND next_ts <= ts + INTERVAL 1 DAY
    """,
    doc="SQL MATCH_RECOGNIZE with PATTERN (...) WITHIN INTERVAL '1' DAY "
    "(DataStreamMatch.scala:100-118 translateTimeBound -> "
    "Pattern.within): the time bound prunes adjacent signup->purchase "
    "pairs more than a day apart, so the answer differs from the "
    "unbounded cep_match_recognize_sql form (578 vs 937 at sf0.01).",
)
def cep_match_recognize_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("events", table(spark, sf_dir, "events"))
    return eng.sql(
        """
        SELECT user_id, signup_id, purchase_id
        FROM (SELECT user_id, event_id, ts, event_type FROM events
              WHERE event_type IN ('signup', 'purchase')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S P) WITHIN INTERVAL '1' DAY
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase'
        )
        """
    )


@register(
    "cep_match_recognize_navigation",
    oracle="""
    WITH filtered AS (
      SELECT user_id, event_id, ts, event_type, value FROM events
      WHERE event_type IN ('signup', 'purchase')
    ), seq AS (
      SELECT user_id, event_id, event_type, value,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id,
             lead(value) OVER w AS next_value
      FROM filtered
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS signup_id, next_id AS purchase_id,
           next_value AS purchase_value
    FROM seq
    WHERE event_type = 'signup' AND next_type = 'purchase'
      AND next_value > value
    """,
    doc="MATCH_RECOGNIZE DEFINE with cross-symbol navigation "
    "(P.value > S.value = LAST(S.value) per the SQL standard): the "
    "condition depends on the partial match, so it runs as an "
    "iterative predicate inside the NFA — the reference's "
    "IterativeCondition path (MatchCodeGenerator.scala, "
    "IterativeCondition.java) — while row-local defines stay JVM "
    "booleans (cep/match_recognize.py:_compile_define_python).",
)
def cep_match_recognize_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("events", table(spark, sf_dir, "events"))
    return eng.sql(
        """
        SELECT user_id, signup_id, purchase_id, purchase_value
        FROM (SELECT user_id, event_id, ts, event_type, value FROM events
              WHERE event_type IN ('signup', 'purchase')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS signup_id, P.event_id AS purchase_id,
                   P.value AS purchase_value
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S P)
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase' AND P.value > S.value
        )
        """
    )


@register(
    "cep_match_recognize_stream",
    oracle="""
    WITH filtered AS (
      SELECT user_id, event_id, ts, event_type FROM events
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
      AND next_ts <= ts + INTERVAL 1 DAY
    """,
    doc="SQL MATCH_RECOGNIZE over a STREAMING source: the events table "
    "replayed as micro-batches behind a temp view, the SAME statement "
    "as cep_match_recognize_within routed by Engine.sql through the "
    "streaming CEP matcher (the reference's MR is a DataStream "
    "operator — DataStreamMatch.scala); MEASURES fold to one row per "
    "match inside the stateful function and the stabilized append "
    "output equals the batch answer (same oracle).",
)
def cep_match_recognize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.engine import Engine
    from flink_1_8_sourcecode_spark.queries.streaming_windows import (
        _replayed_stream,
        _run_to_table,
    )

    eng = Engine(spark)
    stream = _replayed_stream(spark, sf_dir, "mr_stream_")
    eng.register("ev_mr_stream", stream)
    out = eng.sql(
        """
        SELECT user_id, signup_id, purchase_id
        FROM (SELECT user_id, event_id, ts, event_type FROM ev_mr_stream
              WHERE event_type IN ('signup', 'purchase', 'noop')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS signup_id, P.event_id AS purchase_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S P) WITHIN INTERVAL '1' DAY
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase'
        )
        """
    )
    name = _run_to_table(out, "q_mr_stream", state_partitions=4)
    return spark.table(name).filter(F.col("user_id") >= 0)


@register(
    "cep_group_pattern",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id, ts, event_type FROM events
      WHERE event_type IN ('signup', 'purchase')
    ),
    seq AS (
      SELECT user_id, event_id, event_type,
             lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS id1,
             lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS id2,
             lead(event_type, 3) OVER w AS t3, lead(event_id, 3) OVER w AS id3
      FROM f
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS s1, id1 AS p1, id2 AS s2, id3 AS p2
    FROM seq
    WHERE event_type = 'signup' AND t1 = 'purchase'
      AND t2 = 'signup' AND t3 = 'purchase'
    """,
    doc="CEP pattern GROUPS (GroupPattern.java): "
    "Pattern.begin(Pattern.begin(S).next(P)).times(2).consecutive() — "
    "a quantified sub-pattern (S P){2} whose occurrences must be "
    "adjacent; events bind under the INNER stage names.  Default "
    "no-skip enumerates every anchor (overlaps allowed), so the oracle "
    "is a 4-wide lead-window scan for signup,purchase,signup,purchase "
    "runs in the filtered per-user sequence.",
)
def cep_group_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    grp = (
        Pattern.begin("S")
        .where(lambda e: e["event_type"] == "signup")
        .next("P")
        .where(lambda e: e["event_type"] == "purchase")
    )
    pat = Pattern.begin(grp).times(2).consecutive()
    m = match_pattern(
        ev, pat, key="user_id", time_col="ts", select_cols=["event_id"],
        tiebreak="event_id",
    )
    wide = (
        m.withColumn(
            "slot",
            F.concat(F.lower(F.col("stage")), (F.col("seq") / 2).cast("int") + 1),
        )
        .groupBy("user_id", "match_id")
        .pivot("slot", ["s1", "p1", "s2", "p2"])
        .agg(F.first("event_id"))
    )
    return wide.select("user_id", "s1", "p1", "s2", "p2")


@register(
    "cep_match_recognize_measures_agg",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    cand AS (
      SELECT s.user_id, s.event_id AS signup_id, s.value AS sval,
             p.rn AS prn, p.value AS pval, p.event_type AS ptype
      FROM f s JOIN f p ON p.user_id = s.user_id AND p.rn > s.rn
      WHERE s.event_type = 'signup'
    ),
    marked AS (
      SELECT *,
             CASE WHEN ptype <> 'purchase'
                       OR (avg(pval) OVER w >= sval) IS NOT TRUE
                  THEN 1 ELSE 0 END AS viol
      FROM cand
      WINDOW w AS (PARTITION BY user_id, signup_id ORDER BY prn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, max(viol) OVER (PARTITION BY user_id, signup_id ORDER BY prn
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS anybad
        FROM marked
      ) WHERE anybad = 0
    )
    SELECT user_id, signup_id, CAST(count(*) AS INTEGER) AS n_purch,
           CAST(sum(pval) AS DOUBLE) AS sum_purch,
           CAST(avg(pval) AS DOUBLE) AS avg_purch,
           min(pval) AS min_purch, max(pval) AS max_purch
    FROM kept GROUP BY user_id, signup_id
    """,
    doc="MATCH_RECOGNIZE per-pattern-variable aggregates in MEASURES "
    "(SUM/AVG/MIN/MAX/COUNT(P.value)) AND in DEFINE "
    "(AVG(P.value) >= S.value with SQL RUNNING semantics — the "
    "candidate row counts toward the aggregate), the reference's "
    "MatchCodeGenerator.scala:42-69 / AggregationPatternVariableFinder "
    "path: a greedy P+ run extends while the running purchase average "
    "stays at-or-above the signup's value, with 3VL rejection on "
    "UNKNOWN; the oracle replays the same prefix-scan with window "
    "functions (running avg + violation running-max).",
)
def cep_match_recognize_measures_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("events", table(spark, sf_dir, "events"))
    return eng.sql(
        """
        SELECT user_id, signup_id, n_purch, sum_purch, avg_purch,
               min_purch, max_purch
        FROM (SELECT user_id, event_id, ts, event_type, value FROM events
              WHERE event_type IN ('signup', 'purchase')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS signup_id, COUNT(P.*) AS n_purch,
                   SUM(P.value) AS sum_purch, AVG(P.value) AS avg_purch,
                   MIN(P.value) AS min_purch, MAX(P.value) AS max_purch
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S P+)
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase' AND AVG(P.value) >= S.value
        )
        """
    )


@register(
    "cep_match_recognize_subset",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id, ts, event_type, value FROM events
      WHERE event_type IN ('signup', 'purchase')
    ),
    seq AS (
      SELECT user_id, event_id, value, event_type,
             lead(event_type, 1) OVER w AS t1, lead(value, 1) OVER w AS v1,
             lead(event_type, 2) OVER w AS t2, lead(value, 2) OVER w AS v2,
             lead(event_id, 2) OVER w AS id2
      FROM f
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS signup_id, id2 AS last_all_id,
           CAST(3 AS INTEGER) AS n_all,
           CAST(value + v1 + v2 AS DOUBLE) AS sum_all,
           CAST((v1 + v2) / 2 AS DOUBLE) AS avg_p
    FROM seq
    WHERE event_type = 'signup' AND t1 = 'purchase' AND t2 = 'purchase'
    """,
    doc="MATCH_RECOGNIZE SUBSET clause (DataStreamMatch.scala:38 "
    "``subsets``, plan/logical/MatchRecognize.scala): U = (S, P) is a "
    "union variable — LAST(U.event_id), COUNT(U.*) and SUM(U.value) "
    "see the merged rows of both component symbols; matches are "
    "signup followed by exactly two contiguous purchases (P{2}), "
    "non-overlapping by construction, so the oracle is a lead-window "
    "scan.",
)
def cep_match_recognize_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("events", table(spark, sf_dir, "events"))
    return eng.sql(
        """
        SELECT user_id, signup_id, last_all_id, n_all, sum_all, avg_p
        FROM (SELECT user_id, event_id, ts, event_type, value FROM events
              WHERE event_type IN ('signup', 'purchase')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES S.event_id AS signup_id, LAST(U.event_id) AS last_all_id,
                   COUNT(U.*) AS n_all, SUM(U.value) AS sum_all,
                   AVG(P.value) AS avg_p
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S P{2})
          SUBSET U = (S, P)
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase'
        )
        """
    )


@register(
    "cep_match_recognize_group_sql",
    oracle="""
    WITH f AS (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type IN ('signup', 'purchase')
    ),
    seq AS (
      SELECT user_id, event_id, event_type, rn,
             lead(event_type, 1) OVER w AS t1, lead(event_id, 1) OVER w AS id1,
             lead(event_type, 2) OVER w AS t2, lead(event_id, 2) OVER w AS id2,
             lead(event_type, 3) OVER w AS t3, lead(event_id, 3) OVER w AS id3
      FROM f
      WINDOW w AS (PARTITION BY user_id ORDER BY rn)
    ),
    hits AS (
      SELECT user_id, rn, event_id AS s1, id1 AS p1, id2 AS s2, id3 AS p2
      FROM seq
      WHERE event_type = 'signup' AND t1 = 'purchase'
        AND t2 = 'signup' AND t3 = 'purchase'
    )
    SELECT user_id, s1, p1, s2, p2,
           row_number() OVER (PARTITION BY user_id ORDER BY rn) AS mno,
           'P' AS cls
    FROM hits
    """,
    doc="SQL MATCH_RECOGNIZE with a QUANTIFIED PATTERN GROUP — "
    "PATTERN ((S P){2}) — parsed by the recursive pattern grammar and "
    "matched by the CEP group machinery (GroupPattern.java semantics "
    "under MR's strict contiguity), plus MATCH_NUMBER() (per-partition "
    "match ordinal in scan order) and CLASSIFIER() (last matched "
    "row's variable) measures; SKIP TO NEXT ROW makes overlapping "
    "anchors enumerable by a lead-window oracle.",
)
def cep_match_recognize_group_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.engine import Engine

    eng = Engine(spark)
    eng.register("events", table(spark, sf_dir, "events"))
    return eng.sql(
        """
        SELECT user_id, s1, p1, s2, p2, mno, cls
        FROM (SELECT user_id, event_id, ts, event_type FROM events
              WHERE event_type IN ('signup', 'purchase')) MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(S.event_id) AS s1, FIRST(P.event_id) AS p1,
                   LAST(S.event_id) AS s2, LAST(P.event_id) AS p2,
                   MATCH_NUMBER() AS mno, CLASSIFIER() AS cls
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN ((S P){2})
          DEFINE S AS S.event_type = 'signup',
                 P AS P.event_type = 'purchase'
        )
        """
    )


@register(
    "cep_funnel_timeout_stream",
    oracle="""
    SELECT user_id, event_id AS signup_id FROM events s
    WHERE event_type = 'signup' AND NOT EXISTS (
      SELECT 1 FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
        AND (p.ts, p.event_id) > (s.ts, s.event_id)
        AND p.ts <= s.ts + INTERVAL 30 MINUTE)
    """,
    doc="The cep_funnel_timeout query run through STRUCTURED STREAMING: "
    "events replayed as micro-batches, cep.streaming.match_pattern_stream "
    "with emit_timeouts + key-group sharding; timeout decisions are "
    "final once a signup's 30-minute window passes the watermark, so "
    "the streamed timeout channel must equal the batch NOT EXISTS "
    "oracle exactly.",
)
def cep_funnel_timeout_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.cep.streaming import match_pattern_stream
    from flink_1_8_sourcecode_spark.queries.streaming_windows import (
        _replayed_stream,
        _run_to_table,
    )

    stream = _replayed_stream(spark, sf_dir, "cep_to_").filter(
        F.col("event_type").isin("signup", "purchase", "noop")
    )
    pat = (
        Pattern.begin("signup")
        .where(lambda e: e["event_type"] == "signup")
        .followed_by("purchase")
        .where(lambda e: e["event_type"] == "purchase")
        .within("30 minutes")
    )
    out = match_pattern_stream(
        stream, pat, key="user_id", time_col="ts", select_cols=["event_id"],
        watermark_delay="10 minutes", tiebreak="event_id",
        emit_timeouts=True,
    )
    name = _run_to_table(out, "q_cep_to", state_partitions=4)
    return (
        spark.table(name)
        .filter(
            (F.col("user_id") >= 0) & F.col("timed_out")
            & (F.col("stage") == "signup")
        )
        .select("user_id", F.col("event_id").alias("signup_id"))
    )


@register(
    "cep_mr_expression_measures",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value,
             lead(event_type) OVER w AS next_type,
             lead(event_id) OVER w AS next_id,
             lead(value) OVER w AS next_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS signup_id, next_id AS purchase_id,
           round(value * 2 + 1, 4) AS s_score,
           round(next_value / 2, 4) AS p_half,
           round(next_value, 2) AS p_round
    FROM seq
    WHERE event_type = 'signup' AND next_type = 'purchase'
      AND next_value * 2 > value
    """,
    doc="MATCH_RECOGNIZE with EXPRESSION arguments in MEASURES and "
    "DEFINE (cep/match_recognize.py:_lower_expr_args — the reference's "
    "MatchRecognizeITCase testLogicalOffsets/testAggregates surface): "
    "FIRST(S.value * 2 + 1), LAST(P.value / 2), a whitelisted scalar "
    "call in a BARE measure ROUND(P.value, 2) (LAST/FINAL semantics; "
    "the reference compiles arbitrary RexCalls in measures, "
    "MatchCodeGenerator.scala:42-69) and a cross-symbol DEFINE "
    "'P.value * 2 > FIRST(S.value)'.  Expressions pre-lower to one "
    "synthetic row-local projection (WSCG) before the NFA, so the "
    "match machinery only ever shuffles plain columns.",
)
def cep_mr_expression_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_8_sourcecode_spark.cep.match_recognize import match_recognize

    ev = table(spark, sf_dir, "events")
    out = match_recognize(
        ev,
        """
        PARTITION BY user_id
        ORDER BY ts, event_id
        MEASURES S.event_id AS signup_id, P.event_id AS purchase_id,
                 FIRST(S.value * 2 + 1) AS s_score,
                 LAST(P.value / 2) AS p_half,
                 ROUND(P.value, 2) AS p_round
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (S P)
        DEFINE S AS S.event_type = 'signup',
               P AS P.event_type = 'purchase'
                    AND P.value * 2 > FIRST(S.value)
        """,
    )
    return out.select(
        "user_id", "signup_id", "purchase_id",
        F.round("s_score", 4).alias("s_score"),
        F.round("p_half", 4).alias("p_half"),
        "p_round",
    )
