"""The repo's runnable entrypoints: the one frontier-throughput job runs
end to end, and the docs name only scripts and modules that exist."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", "COVERAGE.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))


def test_docs_name_only_existing_scripts():
    """Script paths resolve from the repo root, package module paths
    (``crawl/engine.py``) under ``podcast_plow_spark/``."""
    named = set()
    for doc in DOCS:
        with open(os.path.join(REPO, doc)) as fh:
            text = fh.read()
        named.update(re.findall(r"\b(?:scripts|jobs)/[\w./-]+\.py\b", text))
        named.update(
            os.path.join("podcast_plow_spark", m)
            for m in re.findall(r"\b(?:crawl|operators|sources|streaming|functions)/\w+\.py\b", text)
        )
    assert any(p.startswith("podcast_plow_spark") for p in named), "no module paths found in the docs"
    assert any(not p.startswith("podcast_plow_spark") for p in named), "no script paths found in the docs"
    missing = sorted(p for p in named if not os.path.exists(os.path.join(REPO, p)))
    assert not missing, f"docs name deleted files: {missing}"


def test_frontier_bench_job_prints_one_json_line():
    """The keys ``scripts/executor_scaling_bench.py`` reads from each
    submitted run, from a direct single-JVM run of the job."""
    # one timed epoch per candidate workload: a warm-up, one fresh and
    # one overlap engine epoch, at the session's default parallelism
    env = dict(os.environ, SPARK_GRAFT_EPOCH_REPS="1")
    proc = subprocess.run(
        [sys.executable, "jobs/frontier_bench_job.py", "--master", "local[2]", "--n-urls", "4000", "--inproc-control"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    for key in (
        "urls_per_sec",
        "urls_per_sec_overlap",
        "kernel_control_sec",
        "kernel_control_pre_sec",
        "kernel_control_post_sec",
    ):
        assert out[key] > 0, (key, out)
    assert out["n_urls"] == 4000
