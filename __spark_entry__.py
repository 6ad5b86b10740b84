"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship TPC-H Q3 on sf0.001.
queries()     -> every declared query from SURVEY.md §2 (name -> callable).
oracle_sql()  -> matching DuckDB SQL per query (omitted => rows-only check).

Every callable applies the engine's runtime SQL confs to the session it
is handed (``session.apply_runtime_conf``) and ships the engine package to
Spark's Python workers via addPyFile on first use: the driver process may
import this module from an arbitrary cwd, and workers do not inherit the
driver's sys.path, so pickled-by-reference functions (applyInPandas/
pandas_udf bodies) need the package on the worker side too.
"""

from __future__ import annotations

import os
import sys
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from flink_1_8_sourcecode_spark.queries import load_all  # noqa: E402
from flink_1_8_sourcecode_spark.session import apply_runtime_conf  # noqa: E402

_REGISTRY = load_all()
_PKG = "flink_1_8_sourcecode_spark"
_SHIPPED: set[int] = set()


def _package_zip() -> str:
    path = os.path.join("/tmp", f"{_PKG}.zip")
    src_root = os.path.join(_REPO, _PKG)
    newest_src = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(src_root)
        for f in fns
        if f.endswith(".py")
    )
    if not os.path.exists(path) or os.path.getmtime(path) < newest_src:
        with zipfile.ZipFile(path, "w") as zf:
            for dp, _dn, fns in os.walk(src_root):
                for f in fns:
                    if f.endswith(".py"):
                        full = os.path.join(dp, f)
                        zf.write(full, os.path.relpath(full, _REPO))
    return path


def _ensure_shipped(spark: SparkSession) -> None:
    # the driver builds its own session, so the engine's runtime confs are
    # applied on every call (a conf set can be undone between calls); the
    # static codegen cache bound cannot reach a session that already exists
    apply_runtime_conf(spark)
    key = id(spark.sparkContext)
    if key not in _SHIPPED:
        spark.sparkContext.addPyFile(_package_zip())
        _SHIPPED.add(key)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q3, the reference's own example query) on sf0.001."""
    _ensure_shipped(spark)
    return _REGISTRY["tpch_q3"].spark(spark, "/root/testdata/sf0.001")


def _driver_verified(results_dir: str = _REPO) -> set[str]:
    """Query names with a fully-green row in any past CORRECTNESS_r*.json.

    The driver's per-round sweep may cap how many queries it checks (r1
    stopped at 50 of 99), so we surface never-verified queries first and
    rotate the already-proven block to the back.  Reading the recorded
    results makes the rotation automatic each round.
    """
    import glob
    import json

    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(results_dir, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            # hash_match is None for rows-only checks (no oracle) — that
            # still counts as that query's strongest possible green; an
            # explicit False means a value mismatch and must NOT count,
            # so the query re-surfaces first in the next capped sweep.
            if (
                isinstance(r, dict)
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match") is not False
            ):
                green.add(name)
    return green


# queries first registered in round N rank behind still-unverified queries
# from earlier rounds, so the capped driver sweep (~50/round) clears the
# oldest verification debt first
_ADDED_R2 = {
    "tpch_q7", "tpch_q8", "tpch_q12", "tpch_q19", "tpch_q22",
    "window_session_flink_sql", "cep_funnel_timeout",
    "graph_label_propagation", "graph_triangles", "graph_hits",
    "graph_community_detection", "graph_summarize",
    "dedup_simhash_pairs", "text_subword_count",
}
_ADDED_R3 = {
    "tpch_q2", "tpch_q9", "tpch_q11", "tpch_q13", "tpch_q15",
    "tpch_q16", "tpch_q17", "tpch_q20", "tpch_q21",
    "multimodal_decode_features", "multimodal_frame_sample",
    "multimodal_resize_plan",  # first round with an oracle attached
    "window_delta_trigger", "window_delta_evictor",
    "cep_match_recognize_all_rows", "dedup_skew_salted_join",
}

# every pre-declared name must resolve — a stale promise here fails at
# import time instead of silently misrepresenting scope to the driver
for _added in (_ADDED_R2, _ADDED_R3):
    _missing = _added - set(_REGISTRY)
    assert not _missing, f"declared but unregistered queries: {sorted(_missing)}"


def _ordered_names() -> list[str]:
    green = _driver_verified()
    names = list(_REGISTRY)

    def rank(n: str) -> int:
        if n in green:
            return 3
        if n in _ADDED_R3:
            return 2
        if n in _ADDED_R2:
            return 1
        return 0

    order = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (rank(n), order[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(_REGISTRY[name].spark) for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name].oracle
        for name in _ordered_names()
        if _REGISTRY[name].oracle is not None
    }
