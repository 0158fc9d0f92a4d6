"""Each workload at a tiny size: it passes its own output checks, and
each check fails once one expected row is corrupted. Also the
command-line contract: the result line, and a non-zero exit where the
engine is missing. Needs Spark; takes a few minutes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
import run
from workloads import load_all

TINY = {"migrate": 0.001, "churn": 0.001, "corpus": 0.01}
#: how many tables/frames each workload's check compares
CHECKED = {"migrate": 5, "churn": 4, "corpus": 1}


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(run.WORK, f"tests-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    s = run.start_spark("2", work)
    yield s
    run.stop_spark(s)
    shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(TINY))
def test_workload_passes_and_each_check_can_fail(spark, name, tmp_path):
    wl = load_all()[name](spark, str(tmp_path), seed=7, scale=TINY[name])
    wl.setup()
    wl.units.append(wl.unit())
    wl.after_unit()
    assert wl.errors == [] and wl.failed == 0
    assert wl.final_check() == []
    assert wl.check() == []
    corrupted = wl.check(corrupt=True)
    assert len(corrupted) == CHECKED[name], corrupted
    assert set(wl.detail())


def test_churn_point_read_check_catches_a_wrong_row(spark, tmp_path):
    wl = load_all()["churn"](spark, str(tmp_path), seed=3, scale=0.001)
    wl.setup()
    key = wl.live[0]
    wl._read(key)
    assert wl.failed == 0
    wl.con.execute(f"UPDATE li SET qty = qty + 1 WHERE lk = {key}")
    wl._read(key)
    assert wl.failed == 1 and f"lk={key}" in wl.errors[0]


def _run(cwd: str, *args: str, code: str | None = None) -> subprocess.CompletedProcess:
    """The command in ``cwd``; ``code`` runs instead of the script,
    with the benchmark's directory on ``sys.path`` as the script has."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    if code is None:
        cmd = ["perfbench/run.py"]
    else:
        cmd = ["-c", code]
        env["PYTHONPATH"] = os.path.join(cwd, "perfbench")
    return subprocess.run([sys.executable, *cmd, *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)


def test_command_prints_contract_result():
    # run.main exactly as the command line runs it, on tiny inputs
    code = ("import sys, run, workloads.churn as c; c.Churn.scale = 0.001; "
            "sys.exit(run.main(sys.argv[1:]))")
    p = _run(run.ROOT, "--workload", "churn", "--seed", "5", "--seconds", "1",
             "--trace", "0", code=code)
    assert p.returncode == 0, p.stderr[-2000:]
    report, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert report["env"]["seed"] == 5
    e2e = report["end_to_end"]
    assert e2e["fail_ratio"]["value"] == 0.0
    assert {"peak_rss_mb", "read_tail_ms", "cow_commit_p50_ms"} <= set(e2e)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "churn", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
