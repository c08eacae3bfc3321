"""Workload definitions and output checks.

Queries are chosen by registered name (``__spark_entry__.queries()``),
never by module, so moving a query between modules leaves the workloads
unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os

# The Catalyst half of the headline suite: JVM codegen, shuffle and parquet
# scans; no Python workers and no MLlib.
RELATIONAL = (
    "pricing_summary", "prune_sparse", "broadcast_join_revenue",
    "right_outer_join", "topk_per_group", "iqr_outlier", "window_hourly",
    "sessionize", "rollup_agg", "session_paths", "cohort_retention",
    "scd2_history", "dq_audit", "ks_drift_events", "funnel_conversion",
    "cms_user_counts", "negative_sample_interactions",
    "stream_tumbling_counts", "stream_decayed_features",
)

QUERY_WORKLOADS = {"relational_sf001": RELATIONAL}
WORKLOADS = ("bgg_als", *QUERY_WORKLOADS)

# A copy of the project's test data at scale factor 0.01 (60,000 lineitem
# rows): the nine tables the relational queries read. It lives with the
# benchmark because a run reads nothing outside its checkout.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
EXPECTED_PATH = os.path.join(os.path.dirname(DATA_DIR), "expected.json")

# bgg_als: the reference E2 grid (als.py) on a scaled-down golden corpus.
BGG_RATINGS = 50_000
BGG_K = 10


def bgg_config() -> dict:
    """Corpus and ``als_workflow`` arguments: the reference grid (rank
    {20,30} x regParam {0.1,0.01}), ALS seed 1 and TVS trainRatio 0.8, with
    corpus size and prune thresholds scaled by the rule of
    ``tools/als_reference_scale.py``. maxIter is 10, not the reference's
    20: at 20 one run took 80-89 s on a 4-core host, and 22 runs of each
    workload must fit in the benchmark's time budget."""
    from recommender_system_with_pyspark_spark.domain import golden

    scale = BGG_RATINGS / golden.REF_N_RATINGS
    return {
        "corpus": {
            "n_ratings": BGG_RATINGS,
            "n_users": max(1000, int(golden.REF_N_USERS * scale)),
            "n_items": max(200, int(golden.REF_N_ITEMS * scale)),
            "head_items": max(100, int(golden.REF_HEAD_ITEMS * scale)),
        },
        "workflow": {
            "min_game_ratings": max(10, int(1000 * scale)),
            "min_user_ratings": max(2, int(10 * scale)),
            "k": BGG_K,
            "tune": True,
            "ranks": (20, 30),
            "reg_params": (0.1, 0.01),
            "max_iter": 10,
            "seed": 1,
        },
    }


# What the seed commit produces on this corpus. It always selects
# regParam 0.1; rank 20 and rank 30 validate within noise of each other, so
# the selected rank depends on the corpus seed. Test RMSE / R^2 vary by
# seed too (seed 3: 1.079 / 0.429, seed 101: 1.091 / 0.413, seed 102:
# 1.077 / 0.478). The bands hold every seed tried with room to spare and
# still fail a model no better than the global mean (R^2 = 0).
BGG_REG_PARAM = 0.1
BGG_RANKS = (20, 30)
BGG_RMSE = (1.06, 0.11)
BGG_R2 = (0.45, 0.10)


def check_bgg(got: dict) -> dict:
    """Compare one pipeline's outputs with the pinned expectations."""
    problems = []
    if got["raw_rows"] != BGG_RATINGS:
        problems.append("raw_rows")
    if got["rec_rows"] != got["expected_rec_rows"] or got["rec_rows"] == 0:
        problems.append("rec_rows")
    if got["users_with_recs"] * BGG_K != got["rec_rows"]:
        problems.append("users_with_recs")
    if got["null_names"]:
        problems.append("null_names")
    if got["regParam"] != BGG_REG_PARAM:
        problems.append("regParam")
    if got["rank"] not in BGG_RANKS:
        problems.append("rank")
    for key, (want, tol) in (("rmse", BGG_RMSE), ("r2", BGG_R2)):
        if not abs(got[key] - want) <= tol:
            problems.append(key)
    return {"ok": not problems, "problems": problems, **got}


def oracle_results() -> dict[str, list[int]]:
    """(row count, content hash) of every relational query's DuckDB oracle."""
    import __spark_entry__ as entry

    from recommender_system_with_pyspark_spark.testing import duckdb_result_hash

    oracles = entry.oracle_sql()
    return {name: list(duckdb_result_hash(oracles[name], DATA_DIR)) for name in RELATIONAL}


def inputs_digest() -> str:
    """sha256 over the relational queries' oracle SQL and the table files:
    the stored oracle results hold only while it is unchanged."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    h = hashlib.sha256()
    for name in RELATIONAL:
        h.update(f"{name}\0{oracles[name]}\0".encode())
    for fname in sorted(os.listdir(DATA_DIR)):
        h.update(fname.encode() + b"\0")
        with open(os.path.join(DATA_DIR, fname), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected_results() -> tuple[dict[str, list[int]], bool]:
    """The stored oracle results, or fresh ones when the oracle SQL or the
    tables have changed since they were stored; the flag says which."""
    with open(EXPECTED_PATH) as fh:
        stored = json.load(fh)
    if stored["digest"] == inputs_digest():
        return stored["results"], False
    return oracle_results(), True


if __name__ == "__main__":
    # python3 perfbench/workloads.py, from the repository root: store the
    # oracle results again after a change to an oracle or to the tables
    import sys

    sys.path.insert(0, os.getcwd())
    lines = [f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in oracle_results().items()]
    with open(EXPECTED_PATH, "w") as fh:
        fh.write(f'{{"digest": "{inputs_digest()}",\n "results": {{\n')
        fh.write(",\n".join(lines) + "\n }\n}\n")
