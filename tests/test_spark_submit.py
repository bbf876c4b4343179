"""North-rule packaging proof: the job really ships as
`spark-submit --py-files dist/lgid_spark.zip` — run from a neutral cwd
with the repo stripped from PYTHONPATH, so every `lgid_spark.*` import
inside the job must resolve from the zip, exactly as on a cluster."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIST = os.path.join(REPO, "dist", "lgid_spark.zip")
JOB = os.path.join(REPO, "lgid_spark", "jobs", "run_filter.py")


@pytest.fixture(scope="module", autouse=True)
def fresh_dist():
    """Rebuild the zip from the CURRENT tree — a stale committed dist
    makes the job import symbols the zip doesn't have yet and fails
    with an error that looks like a packaging bug."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import make_dist

    make_dist.main()


def test_spark_submit_py_files_filter_job(tmp_path):
    out = str(tmp_path / "filtered")
    metrics = str(tmp_path / "metrics")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH",)}
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--driver-memory", "3g",
        "--py-files", DIST,
        JOB,
        "--input", "synth:200",
        "--output", out,
        "--metrics", metrics,
        "--snapshot-id", "pytest-submit",
    ]
    run = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    summary = json.loads(run.stdout.strip().splitlines()[-1])
    assert summary["snapshot_id"] == "pytest-submit"
    assert summary["processed_buckets"] > 0
    assert os.path.isdir(out) and os.path.isdir(metrics)

    # idempotent resume: a second submit over the same metrics dir is a
    # no-op (all buckets already committed)
    run2 = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env,
    )
    assert run2.returncode == 0, run2.stderr[-3000:]
    summary2 = json.loads(run2.stdout.strip().splitlines()[-1])
    assert summary2["processed_buckets"] == 0


@pytest.mark.parametrize("key,value", [
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
    ("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024"),
])
def test_apply_engine_defaults_fills_launcher_unset_keys(key, value):
    """A spark-submit session gets the engine's SQL default for a key
    the launcher left unset, and keeps the launcher's own --conf."""
    from types import SimpleNamespace

    from lgid_spark.session import apply_engine_defaults

    def session(launcher: dict, runtime: dict):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(getConf=lambda: SimpleNamespace(
                contains=launcher.__contains__)),
            conf=SimpleNamespace(set=runtime.__setitem__))

    runtime: dict = {}
    apply_engine_defaults(session({}, runtime))
    assert runtime[key] == value
    runtime = {}
    apply_engine_defaults(session({key: "launcher"}, runtime))
    assert key not in runtime
