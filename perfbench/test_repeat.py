"""Exact counts must repeat: two traced runs of one seed launch the same
Spark jobs, stages and tasks per public call and write artifacts of the
same size, so a structural regression shows as a count, not only as
wall time.

    python3 -m pytest perfbench/test_repeat.py -q

Each case runs the benchmark twice (about three minutes per workload).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-layer metrics that are counts or exact ratios, by workload
EXACT = {
    "build": ["build.jobs", "build.stages", "build.tasks",
              "positions.jobs", "positions.bytes_per_position",
              "positions.phrase_jobs", "plans.dense_ids.jobs",
              "query.batch_jobs", "query.batch_stages",
              "query.distributed_jobs", "query.distributed_stages",
              "query.cache_miss_ratio"],
    "ingest": ["dedup.jobs", "dedup.kept_ratio",
               "ingest.process_batch_jobs", "segments.n_segments",
               "delete.jobs", "merge.jobs", "plans.dense_ids.jobs",
               "query.batch_jobs", "query.distributed_jobs"],
}
END_TO_END_EXACT = ["index_bytes_per_posting"]


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    return {k: v["value"] for k, v in out["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(EXACT))
def test_counts_repeat(workload):
    a, b = _run(workload, 1), _run(workload, 1)
    for name in EXACT[workload]:
        assert a[name] == b[name], (name, a[name], b[name])
        assert a[name] > 0 or name == "query.cache_miss_ratio", name


@pytest.mark.parametrize("workload", sorted(EXACT))
def test_artifact_size_repeats(workload):
    a, b = _run(workload, 0), _run(workload, 0)
    for name in END_TO_END_EXACT:
        assert a[name] == b[name], (name, a[name], b[name])
