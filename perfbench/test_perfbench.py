"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The first two need no Spark. The others run the benchmark in smoke
mode (sf0.01, a one-second timed window), about a minute each.
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
sys.path.insert(0, HERE)

import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def run_bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "3",
         "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def result_and_report(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def assert_metrics(result, registered):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in registered}


class _FakeDag:
    def __init__(self):
        self.jobs = 0

    def numTotalJobs(self):
        return self.jobs


class _FakeSpark:
    def __init__(self, dag):
        jsc = type("JSC", (), {"sc": lambda _self: type("SC", (), {"dagScheduler": lambda _s: dag})()})()
        self.sparkContext = type("Ctx", (), {"_jsc": jsc})()


def test_spans_nest_count_jobs_and_give_self_time():
    dag = _FakeDag()
    tr = tracing.Tracer(_FakeSpark(dag))
    with tr.span("key", key="k") as key:
        with tr.span("registry") as build:
            with tr.span("tables"):
                dag.jobs += 1
                with tr.span("tables"):  # load_skew_table -> load_table
                    dag.jobs += 1
        with tr.span("exec"):
            dag.jobs += 3
    assert [c["layer"] for c in tr.children(key["id"])] == ["registry", "exec"]
    assert key["jobs"] == 5 and build["jobs"] == 2
    assert len(tr.outermost("tables")) == 1
    assert len(tr.descendants(key["id"])) == 4
    kids = tr.children(key["id"])
    assert tr.self_s(key) == pytest.approx(key["s"] - sum(c["s"] for c in kids))
    assert all(tr.self_s(s) >= 0 for s in tr.spans)


def test_instrumented_wraps_every_binding_and_restores_it():
    from bigdataprojectspring16_spark import tables
    from bigdataprojectspring16_spark.llmops import corpus

    original = tables.load_table
    assert corpus.load_table is original
    tr = tracing.Tracer(_FakeSpark(_FakeDag()))
    with tr.instrumented():
        assert tables.load_table is not original
        assert corpus.load_table is tables.load_table
        assert corpus.load_table.__wrapped__ is original
    assert tables.load_table is original and corpus.load_table is original


def test_smoke_untraced_emits_every_end_to_end_metric():
    result, report = result_and_report(run_bench("--workload", "relational", "--smoke", "--trace", "0"))
    assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert report["failed_frac"] == 0
    host = report["host"]
    assert host["default_parallelism"] == int(host["requested_cpus"]) == max(1, host["nproc"] - 1)
    assert set(report["jobs"]) == {"tpch_q6_revenue_delta", "tpch_q12_ship_delay_priority",
                                   "agg_pricing_summary", "join_multiway_star"}


def test_smoke_traced_emits_every_layer_metric_and_nested_spans():
    result, report = result_and_report(run_bench("--workload", "etl_write", "--smoke", "--trace", "1"))
    assert_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["sources.sinks.files"] > 0 and m["plans.barriers.jobs"] > 0
    with open(os.path.join(ROOT, ".perfbench_work", "reports", "etl_write-seed3-trace1.json")) as fh:
        spans = json.load(fh)["spans"]
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s["layer"]

    for s in spans:
        up = list(ancestors(s))
        if s["layer"] == "key":
            assert up == []
        elif s["layer"] in ("registry", "catalyst", "exec"):
            assert up == ["key"]
        elif s["layer"] in ("tables", "plans.barriers"):
            assert "registry" in up and up[-1] == "key"
        elif s["layer"] == "sources.sinks":
            assert up == ["exec", "key"]
        kids = [c for c in spans if c["parent"] == s["id"]]
        assert s["s"] - sum(c["s"] for c in kids) >= 0
    per_key = report["per_key_layers"]["kmeans_clusters"]
    assert per_key["build_jobs"] + per_key["exec_jobs"] == report["jobs"]["kmeans_clusters"]


def test_corrupted_expected_hash_counts_as_failed(tmp_path):
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    expected["answers"]["sf0.01"]["tpch_q6_revenue_delta"]["value_hash"] = "0" * 16
    bad = tmp_path / "expected.json"
    bad.write_text(json.dumps(expected))
    result, report = result_and_report(
        run_bench("--workload", "relational", "--smoke", "--trace", "0", "--expected", str(bad))
    )
    assert not result["correct"] and result["failed"] >= 1
    assert report["failed_frac"] > 0
    assert "value_hash" in report["failures"]["tpch_q6_revenue_delta"]
    assert "tpch_q6_revenue_delta" not in report["key_walls_s"][0]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("--workload", "relational", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
