"""queries-sf0.01 workload: a fixed set of the declared queries
(``__spark_entry__.queries()``) on the sf0.01 tables shipped in
perfbench/data. One untimed pass collects every query and compares it
with its oracle (DuckDB ``oracle_sql()``, or the golden parquet); the
timed passes then run each query to the ``noop`` sink, so every output
column is computed."""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from contextlib import nullcontext

NAME = "queries-sf0.01"
LAYERS = ("q", "spark")
SEED_USED = False  # fixed input tables

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ("customer", "documents", "embeddings", "events", "lineitem", "nation", "orders", "part", "region", "supplier")

# query -> group, by the operator module the query is built on:
# similarity (operators.similarity), dedup (operators.dedup), text
# (functions.summarize / functions.text / operators.segments) and
# relational (everything else). Four of the 50 declared queries fit
# the run-time budget: one per group, and two of the five
# golden-parquet queries (stance_classify, summarize_docs).
QUERIES = {
    "stance_classify": "relational",
    "ngram_jaccard_dedup": "dedup",
    "cosine_topk": "similarity",
    "summarize_docs": "text",
}
GROUPS = ("similarity", "dedup", "text", "relational")
TINY = ("stance_classify", "summarize_docs")
MIN_PASSES = 3
SECONDS_PER_PASS = 2  # --seconds 8 makes four timed passes


def norm(v):
    """Sort key for one value. NULL maps to a sentinel that sorts
    first, so columns that mix NULLs and values sort; floats compare
    rounded to 9 digits; nested lists and structs recurse."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (2, "NaN") if math.isnan(v) else (1, round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return (2, bytes(v).hex())
    if isinstance(v, (list, tuple)):
        return (3, tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return (3, tuple(norm(x) for x in v.values()))
    return (2, str(v))


def sorted_rows(rows) -> list:
    return sorted(tuple(norm(v) for v in r) for r in rows)


def prepare(spark, work: str, seed: int, size: str) -> dict:
    """The input tables are fixed; set-up is the session start alone."""
    return {"names": list(TINY if size == "tiny" else QUERIES), "work": work}


def _oracle_pass(spark, names: list[str]) -> dict[str, bool]:
    import duckdb

    import __spark_entry__ as entry

    qs, sqls = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(SF_DIR, t)}.parquet')")
    ok = {}
    for name in names:
        try:
            got = sorted_rows(qs[name](spark, SF_DIR).collect())
            ok[name] = got == sorted_rows(con.execute(sqls[name]).fetchall())
        except Exception:  # noqa: BLE001 — a failing query is a failed operation
            traceback.print_exc()
            ok[name] = False
    con.close()
    return ok


def measure(spark, inp: dict, seconds: float, tracer=None) -> dict:
    """Oracle pass, one untimed warm-up pass to the sink, then one
    timed pass per SECONDS_PER_PASS of ``seconds``, at least MIN_PASSES.
    The JVM is still warming up over these passes, so their number is
    fixed by ``seconds`` rather than by the clock: every run's median
    sits at the same point of the warm-up curve."""
    import __spark_entry__ as entry

    from proc import tree_cpu_s

    names = inp["names"]
    t0 = time.perf_counter()
    checks = _oracle_pass(spark, names)
    check_s = time.perf_counter() - t0
    failed = sum(not ok for ok in checks.values())
    attempted = len(names)
    qs = entry.queries()
    per_query: dict[str, list[float]] = {n: [] for n in names}

    def one_pass(timed: bool) -> tuple[float, float, float]:
        nonlocal attempted, failed
        total = 0.0
        work0, jit0 = tree_cpu_s()
        for name in names:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            attempted += 1
            try:
                with tracer.span(f"q.{name}") if timed and tracer is not None else nullcontext():
                    qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 — a failing query is a failed operation
                traceback.print_exc()
                failed += 1
            dt = time.perf_counter() - t0
            if timed:
                per_query[name].append(dt)
            total += dt
        work, jit = tree_cpu_s()
        return total, work - work0, jit - jit0

    warmup_s = one_pass(timed=False)[0]
    pass_s: list[float] = []
    pass_cpu_s: list[float] = []
    pass_jit_s: list[float] = []
    with tracer.span("queries") if tracer is not None else nullcontext() as root_idx:
        for _ in range(max(MIN_PASSES, int(seconds // SECONDS_PER_PASS))):
            wall, work, jit = one_pass(timed=True)
            pass_s.append(wall)
            pass_cpu_s.append(work)
            pass_jit_s.append(jit)
    spark.catalog.clearCache()
    result = {
        "attempted": attempted,
        "failed": failed,
        "checks": checks,
        "e2e": {"op_cpu_s": statistics.median(pass_cpu_s)},
        "jit_cpu_s": statistics.median(pass_jit_s),
        "wall_s": statistics.median(pass_s),
        "detail": {
            "queries_total_s": statistics.median(pass_s),
            "passes_s": [round(x, 4) for x in pass_s],
            "passes_work_cpu_s": [round(x, 3) for x in pass_cpu_s],
            "passes_jit_cpu_s": [round(x, 3) for x in pass_jit_s],
            "oracle_pass_s": round(check_s, 3),
            "warmup_pass_s": round(warmup_s, 3),
            "query_median_s": {n: round(statistics.median(v), 4) for n, v in per_query.items()},
        },
    }
    if tracer is not None:
        result["layers"] = _layers(tracer, names, len(pass_s), per_query, root_idx)
    return result


def _layers(tracer, names, passes, per_query, root_idx) -> dict:
    from spans import sum_jobs

    jm = tracer.collect()
    m: dict[str, float] = {}
    for name in QUERIES:
        m[f"q.{name}_s"] = statistics.median(per_query[name]) if name in per_query else 0.0
    for g in GROUPS:
        jobs = [j for n in names if QUERIES[n] == g for i in tracer.named(f"q.{n}") for j in tracer.jobs_under(i)]
        tot = sum_jobs(jm, jobs)
        for k in ("exec_s", "shuffle_mb", "spill_mb", "tasks", "jobs"):
            m[f"qgroup.{g}.{k}"] = tot[k] / passes
    tot = sum_jobs(jm, tracer.jobs_under(root_idx))
    for k in ("exec_s", "shuffle_mb", "spill_mb", "tasks", "jobs"):
        m[f"spark.{k}"] = tot[k] / passes
    return m
