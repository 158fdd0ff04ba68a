"""Smoke tests for the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -p no:cacheprovider

Each workload runs end to end through ``perfbench/run.py`` and must
print every metric BENCHMARK.json names with all checks passing; a
corrupted output must trip its check; and the benchmark must refuse to
run where the engine package is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# analytic_reads needs >= 64 embeddings for its PQ codebook
TINY = {"push": "0.02", "statements_reads": "0.4"}


def run_bench(workload: str, trace: int, cwd: str = ROOT, scale: str | None = None):
    cmd = [
        sys.executable, os.path.join(cwd, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "0.1",
        "--trace", str(trace), "--scale", scale or TINY[workload],
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def test_workloads_match_spec():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(TINY)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_workload_end_to_end(workload):
    proc = run_bench(workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_reports_every_layer():
    proc = run_bench("statements_reads", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"], proc.stderr[-3000:]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["dml.merge_jobs"]["value"] > 0
    assert out["metrics"]["spark.jobs"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("push", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    from dbt_omnata_push_spark.engine.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.enabled": "false"})
    yield s
    s.stop()


def test_record_logged_twice_trips_the_push_check(spark, tmp_path):
    from perfbench import checks, datagen, project

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tally = tmp_path / "tally"
    tally.mkdir()
    seeds = {
        "accounts": datagen.accounts(7, 0, 3),
        "contacts": datagen.contacts(7, 0, 5),
        "transactions": datagen.transactions(7, 3, 0, 2),
    }
    engine = project.build_engine(spark, str(tmp_path / "store"), str(tally), seeds)
    results = engine.run()
    offered = {"accounts_load": 3, "accounts_load_legacy": 3,
               "transactions_daily_load": 6, "contacts_load": 5}
    assert all(ok for _, ok in checks.run_results(results, offered))
    clean = list(checks.push_store(engine, offered, offered, project.read_tally(str(tally))))
    assert all(ok for _, ok in clean), [w for w, ok in clean if not ok]

    logs = engine.store.read(spark, "sfdc_load_task_logs")
    engine.store.append(spark, "sfdc_load_task_logs", logs.limit(1))
    dirty = list(checks.push_store(engine, offered, offered, project.read_tally(str(tally))))
    failed = [w for w, ok in dirty if not ok]
    assert any("unique" in w for w in failed), failed
    assert any("log rows" in w for w in failed), failed


def test_bootstrap_leaves_nothing_to_push(spark, tmp_path):
    """The written backfill state is what a real backfill leaves: the
    next run finds every seeded record already pushed."""
    from perfbench import checks, datagen, project

    seeds = {
        "accounts": datagen.accounts(8, 0, 4),
        "contacts": datagen.contacts(8, 0, 6),
        "transactions": datagen.transactions(8, 4, 0, 3),
    }
    (tmp_path / "tally").mkdir()
    engine = project.build_engine(spark, str(tmp_path / "store"), str(tmp_path / "tally"), seeds)
    logged = project.bootstrap(engine)
    assert logged == {"accounts_load": 4, "accounts_load_legacy": 4,
                      "transactions_daily_load": 12, "contacts_load": 6}
    results = engine.run()
    assert {r.status for r in results.values()} <= {"success", "skipped"}
    assert all(results[m].rows_affected == 0 for m in project.PUSH_MODELS)
    assert all(ok for _, ok in checks.push_store(engine, logged, {m: 0 for m in logged}, {}))
