"""Self-tests of the benchmark at the tiny scale (lineitem ~6k rows, a
corpus of ~400 documents).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload must run end to end, pass its own checks and emit every
metric ``BENCHMARK.json`` names, with its unit; a traced run must report
spans that nest; a deliberately wrong expected answer must be counted as
a failure; and a directory holding only the benchmark must exit non-zero
without a result line.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = ["bi_sql", "cdc_ingest"]


def _run(cwd, *extra):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
         "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return p, p.stdout.strip().splitlines()


def _result(lines):
    report = json.loads(lines[-2].split(" ", 1)[1])
    return report, json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_emits_every_end_to_end_metric(workload):
    p, lines = _run(ROOT, "--workload", workload, "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    report, res = _result(lines)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, report["failures"]
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert math.isfinite(v["value"]) and v["value"] > 0, k
    assert report["cores"] >= 1 and set(report["calibration"]) == {"start", "end"}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_nests_spans_and_counts_a_wrong_answer(workload):
    p, lines = _run(ROOT, "--workload", workload, "--trace", "1", "--plant-wrong-answer")
    assert p.returncode == 0, p.stderr[-3000:]
    report, res = _result(lines)
    assert res["failed"] == 1 and res["correct"] is False, report["failures"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert report["nesting_errors"] == []
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["trace.spans"] > 0
    assert m["lakeshim.files_planned"] <= m["lakeshim.files_total"]
    if workload == "bi_sql":
        assert m["script.reads_per_statement"] >= 5  # every lake table
        assert m["accelerator.route_attempts"] > 0
    if workload == "cdc_ingest":
        assert m["text_index.refresh_mode.cdc"] + m["text_index.refresh_mode.incremental"] >= 1
        assert m["lakeshim.commits"] > 0 and m["streaming.trigger_s"] > 0
        assert 0 < m["ann_index.codes_files_planned"] <= m["ann_index.codes_files_total"]
        assert m["dedup.candidate_pairs"] >= m["dedup.verified_pairs"] > 0
        for name in ("textstats.s", "dedup.exact_s", "dedup.minhash_lsh_s",
                     "similarity.semdedup_s", "similarity.knn_s", "similarity.spark.jobs"):
            assert m[name] > 0, name


def test_without_the_engine_exits_nonzero_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p, lines = _run(str(tmp_path), "--workload", "bi_sql", "--trace", "0")
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in lines)
