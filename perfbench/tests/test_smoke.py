"""End-to-end smoke runs at scale 0.001 (each starts Spark; a few minutes
in total) and the BENCHMARK.json contract checks."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from conftest import BENCH, ROOT

import report
from workloads import WORKLOADS


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_emitted_names():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(report.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(report.PER_LAYER)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


# Per-layer metrics each traced workload must measure as non-zero: a
# missing event log, listener or wrapper would otherwise read as 0.
REACHED = {
    "queries": ("execute.jobs", "execute.tasks", "registry.build_s",
                "registry.build_jobs", "sources.load_calls", "plan.s",
                "udf.python_rows", "streaming.batches", "streaming.input_rows",
                "operators.tpch.execute_s", "operators.llm.build_s",
                "operators.multimodal.execute_s", "streaming.harness.build_s"),
    "table_lifecycle": ("execute.jobs", "execute.tasks", "icelite.insert_1_s",
                        "icelite.expire_snapshots_s", "icelite.data_files",
                        "icelite.metadata_files", "icelite.bytes_written",
                        "icelite.write_amp", "icelite.space_amp"),
}


@pytest.mark.parametrize("workload, trace", [("queries", "0"), ("queries", "1"),
                                             ("table_lifecycle", "1")])
def test_smoke_run_emits_every_metric_with_its_unit(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", trace, "--scale", "0.001")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    context = json.loads(lines[-2])["context"]
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0, context["failed_ops"]
    assert last["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert {k: v["unit"] for k, v in last["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], float) for v in last["metrics"].values())
    if trace == "1":
        zero = [k for k in REACHED[workload] if not last["metrics"][k]["value"] > 0]
        assert not zero, zero
    else:
        assert all(v["value"] > 0 for v in last["metrics"].values()), last["metrics"]
        # the adjusted times come with their measured values and probe samples
        assert set(context["raw"]) == {"setup_s", "pass_s", "op_geomean_s", "op_p50_s"}
        assert all(v > 0 for v in context["raw"].values())
        assert all(context["host_probe_samples"][w] > 0 for w in ("setup", "timed"))
    assert context["seed"] == 1 and context["calibration_sec"] > 0
    assert context["effective_cores"] > 0
    if workload == "table_lifecycle":  # the table read back after the last op
        assert context["checked_outputs"]["expire_snapshots"] == context["passes"]


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(str(tmp_path), "--workload", "queries", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout.strip() == ""
