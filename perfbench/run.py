#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload crawl-feeds --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke

One run: set up, measure, check the outputs against an oracle, and
print the result as the last line of stdout. With ``--trace 1`` the
public functions of the layer modules are wrapped and the per-layer
metrics are printed instead. The line before the result is a report
with the workload's own metric names, the oracle checks and the host
context. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the traced run of this workload also makes the frontier_throughput
# call that measures the fetch stage; it is the shorter of the two runs
FETCH_STAGE_HOST = "queries-sf0.01"


def _workloads() -> dict:
    import crawl_feeds
    import queries

    return {m.NAME: m for m in (crawl_feeds, queries)}


# --- host context -----------------------------------------------------------


def _host_context() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        st = os.statvfs("/dev/shm")
        shm_free = st.f_bavail * st.f_frsize / 2**30
    except OSError:
        shm_free = None
    env_keys = ("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "OMP_NUM_THREADS", "PYSPARK_PYTHON")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2),
        "dev_shm_free_gb": None if shm_free is None else round(shm_free, 2),
        "loadavg": open("/proc/loadavg").read().split()[:3],
        "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith(env_keys)},
    }


# --- Spark session -------------------------------------------------------------


def _pin_environment(work: str) -> None:
    """Pin the core count and keep every file Spark, the JVM and the
    Python workers write inside the checkout. Every other setting is
    the package default."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _start_spark(work: str, trace: bool):
    from podcast_plow_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:  # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort below
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- one run -------------------------------------------------------------------


def _history_path(workload: str, size: str) -> str:
    return os.path.join(ROOT, ".bench_work", "untraced", f"{workload}-{size}.jsonl")


def _seed_history(seed: int, seconds: float, size: str, skip: str | None) -> None:
    """Make one untraced run, in a child process, of every workload but
    ``skip`` that has no untraced figures in this checkout yet. The first
    run in a checkout does this, so a traced run finds figures to
    compare with. A child never seeds."""
    if os.environ.get("PERFBENCH_CHILD"):
        return
    os.makedirs(os.path.dirname(_history_path("", size)), exist_ok=True)
    env = dict(os.environ, PERFBENCH_CHILD="1")
    for name in _workloads():
        if name == skip or os.path.exists(_history_path(name, size)):
            continue
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0", "--size", size]
        subprocess.run(cmd, cwd=ROOT, env=env, check=True, stdout=subprocess.DEVNULL, timeout=600)


def _untraced_medians(workload: str, size: str) -> dict:
    """Median end-to-end figures of the untraced runs in this checkout."""
    with open(_history_path(workload, size)) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def run_once(workload: str, seed: int, seconds: float, trace: bool, size: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    from proc import Sampler, steal_s

    wl = _workloads()[workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if trace or not os.path.isdir(os.path.dirname(_history_path(workload, size))):
        _seed_history(seed, seconds, size, skip=None if trace else workload)
    untraced = _untraced_medians(workload, size) if trace else None
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)
    host = _host_context()
    steal0 = steal_s()
    sampler = Sampler()
    sampler.start()
    spark = None
    fetch = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, trace)
        inp = wl.prepare(spark, work, seed, size)
        setup_s = time.perf_counter() - t0
        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
        res = wl.measure(spark, inp, seconds, tracer)
        peak_rss_mb = sampler.peak_kb / 1024
        if trace and workload == FETCH_STAGE_HOST:
            import frontier_epoch

            fetch = frontier_epoch.measure(spark, tracer, size)
    finally:
        if spark is not None:
            _stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=setup_s)
    layers = set(wl.LAYERS)
    if trace:
        produced = dict(res["layers"])
        if fetch is not None:
            import frontier_epoch

            produced.update(fetch["layers"])
            layers.update(frontier_epoch.LAYERS)
            res["attempted"] += 1
            res["failed"] += fetch["failed"]
            res["detail"]["fetch_stage"] = fetch["detail"]
        for k, v in e2e.items():
            produced[f"traced.{k}"] = v
            produced[f"overhead.{k}"] = v - untraced[k]
        produced["error_rate"] = res["failed"] / res["attempted"]
        produced["process.peak_rss_mb"] = peak_rss_mb
        produced["jvm.jit_cpu_s"] = res["jit_cpu_s"]
        produced["op.wall_s"] = res["wall_s"]
        layers.update(("traced", "overhead", "error_rate", "process", "jvm", "op"))
        declared = bench["per_layer"]
    else:
        produced = e2e
        declared = bench["end_to_end"]
    undeclared = set(produced) - {m["name"] for m in declared}
    if undeclared:
        raise RuntimeError(f"{workload} produced metrics BENCHMARK.json does not declare: {sorted(undeclared)}")
    # a layer the workload never runs (queries on crawl-feeds, the
    # crawl engine on queries) reads 0 and is listed as not applicable
    metrics, not_applicable = {}, []
    for m in declared:
        name = m["name"]
        layer = "q" if name.startswith("qgroup.") else name.split(".")[0]
        if name in produced:
            value = produced[name]
        elif trace and layer not in layers:
            value = 0.0
            not_applicable.append(name)
        else:
            raise RuntimeError(f"{workload} did not produce metric {name}")
        metrics[name] = {"value": float(value), "unit": m["unit"]}
    if not trace and res["failed"] == 0:
        os.makedirs(os.path.dirname(_history_path(workload, size)), exist_ok=True)
        with open(_history_path(workload, size), "a") as fh:
            fh.write(json.dumps(e2e) + "\n")
    report = {
        "workload": workload,
        "seed": seed,
        "seed_used": wl.SEED_USED,
        "size": size,
        "trace": int(trace),
        "checks": res["checks"],
        "detail": res["detail"],
        "peak_rss_mb": round(peak_rss_mb, 1),
        "untraced_medians": untraced,
        "not_applicable": not_applicable,
        "host": dict(host, steal_s=round(steal_s() - steal0, 2), cpu_probe_ms=round(sampler.probe_ms(), 3)),
    }
    result = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    return report, result


# --- smoke mode --------------------------------------------------------------------


def smoke() -> int:
    """Every workload, untraced and traced, at tiny sizes: each run must
    emit exactly the metrics of BENCHMARK.json, with their units."""
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    bad = []
    if sorted(names) != sorted(_workloads()):
        bad.append(f"BENCHMARK.json workloads {names} differ from {sorted(_workloads())}")
    for name in names:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            if out.returncode != 0:
                bad.append(f"{name} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            result = json.loads(out.stdout.strip().splitlines()[-1])
            want = bench["per_layer"] if trace else bench["end_to_end"]
            got = result["metrics"]
            if sorted(got) != sorted(m["name"] for m in want):
                bad.append(f"{name} trace={trace}: metric names differ from BENCHMARK.json")
            for m in want:
                if m["name"] in got and got[m["name"]]["unit"] != m["unit"]:
                    bad.append(f"{name} trace={trace}: unit of {m['name']}")
            if not result["correct"] or result["failed"]:
                bad.append(f"{name} trace={trace}: outputs differ from the oracle")
            print(f"smoke {name} trace={trace}: {len(got)} metrics, correct={result['correct']}", flush=True)
    for b in bad:
        print("SMOKE FAIL", b, file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--smoke", action="store_true", help="tiny run of every workload, traced and untraced")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    report, result = run_once(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
