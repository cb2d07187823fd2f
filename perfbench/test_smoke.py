"""Self-test of the benchmark in its tiny smoke mode.

    python3 -m pytest perfbench/test_smoke.py -q

Each test starts its own Spark session (about a minute each on 4 CPUs).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from argparse import Namespace

from perfbench import harness as H
from perfbench import run

with open(os.path.join(H.ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(H.ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=600, check=True)
    return json.loads(proc.stdout.splitlines()[-1])


def _units(section: str) -> dict:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_spec_lists_what_the_runner_prints():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.workloads())
    assert _units("end_to_end") == run.END_TO_END
    assert _units("per_layer") == run.per_layer_units()


def test_untraced_run_prints_every_end_to_end_metric():
    out = _run("wiki_pipeline", 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _units("end_to_end")
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _run("crawl_recrawl", 1)
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _units("per_layer")
    assert out["metrics"]["crawl.seen.probe_s"]["value"] > 0  # the prefilter did work
    assert out["metrics"]["trace.overhead_ratio"]["value"] > 0


def test_corrupted_output_counts_as_a_failure(monkeypatch):
    """Drop one context row after every repetition: the checks must
    report it and error_rate must move off zero."""
    from perfbench.wiki import WikiPipeline

    original = WikiPipeline.rep

    def corrupting_rep(self, spark):
        out = original(self, spark)
        from ecc_spark.dao import ContextsStore

        ctx = ContextsStore(spark, self.contexts_db).contexts()
        kept = ctx.limit(max(ctx.count() - 1, 0)).toPandas()
        shutil.rmtree(self.contexts_db)
        ContextsStore(spark, self.contexts_db).write(spark.createDataFrame(kept, ctx.schema))
        return out

    monkeypatch.setattr(WikiPipeline, "rep", corrupting_rep)
    work = os.path.join(H.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    args = Namespace(workload="wiki_pipeline", seed=3, seconds=1.0, trace=0, smoke=True)
    try:
        report, result = run.measure(args, work)
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    assert not result["correct"] and result["failed"] >= 1
    assert report["metrics"]["error_rate"]["value"] > 0
    assert any(f.startswith("contexts") for f in report["failures"])
