"""The benchmark's own tests: tiny runs of every workload, and fault
injection that shows the correctness checks count failures.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each test starts and stops its own Spark JVM, so the file takes a few
minutes. The faults are injected by replacing engine functions inside
the test process only; no engine file is edited.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# per-layer metrics that must be measured above 0 on each workload: one
# or more from every layer the workload reaches
REACHED = {
    "serve_stream": [
        "spark.jobs", "spark.tasks", "spark.exec_cpu_s", "ingest.build_s", "ingest.write_s",
        "ingest.jobs", "ingest.stage.chunk_enrich_s", "ingest.rows_out", "agent.plan_s",
        "agent.retrieve_s", "agent.synthesize_s", "agent.retrieve_rounds",
        "retrieval.batch_multi_s", "embed.query_s", "llm.calls_per_query", "jobs.trigger_s",
        "jobs.add_batch_s", "jobs.batch_size", "jobs.sink_s", "bench.span_coverage",
    ],
    "admit_stream": [
        "spark.jobs", "spark.tasks", "spark.exec_cpu_s", "gate.trigger_s", "gate.overhead_s",
        "dedup.probe_call_s", "gate.probe_and_log_s", "dedup.append_s", "gate.reject_share",
        "dedup.store_rows_end", "dedup.store_bytes_end", "gate.bytes_written_per_input_byte",
        "bench.span_coverage",
    ],
}


def _run_cli(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    res = _run_cli(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        zero = [k for k in REACHED[workload] if not res["metrics"][k]["value"] > 0]
        assert zero == [], f"layers reached but measured as 0: {zero}"
        assert res["metrics"]["bench.span_coverage"]["value"] >= 0.9


def test_benchmark_refuses_to_run_without_the_engine(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout.strip() == ""


def _run_in_process(capsys, workload: str) -> dict:
    import os
    import tempfile

    import run

    env, tmp = dict(os.environ), tempfile.tempdir
    try:
        assert run.main(["--workload", workload, "--seed", "3", "--seconds", "2", "--trace", "0"]) == 0
    finally:  # the run points TMPDIR and friends at its own, now deleted, work dir
        os.environ.clear()
        os.environ.update(env)
        tempfile.tempdir = tmp
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_corrupted_answer_is_counted_as_failed(capsys, monkeypatch):
    """The stream's agent corrupts one answer; the reference agent does not."""
    from githubrepostorag_spark.plans.agent import GraphRAGAgent
    from githubrepostorag_spark.streaming import jobs

    class Corrupting(GraphRAGAgent):
        def run_batch(self, batch):
            states = super().run_batch(batch)
            if not any(st.job_id.startswith("w") for st in states):  # spare the warm-up
                states[0].answer = (states[0].answer or "") + " (corrupted)"
            return states

    monkeypatch.setattr(jobs, "GraphRAGAgent", Corrupting)
    res = _run_in_process(capsys, "serve_stream")
    assert res["correct"] is False and res["failed"] >= 1


def test_dropped_document_is_counted_as_failed(capsys, monkeypatch):
    """The gate's exact-dedup step loses one document, so the accepted and
    rejected sets no longer partition the input."""
    from pyspark.sql import functions as F

    from githubrepostorag_spark.operators import dedup

    exact = dedup.exact_dedup

    def dropping(batch):
        out = exact(batch)
        lowest = out.agg(F.min("canonical_doc_id")).first()[0]
        return out.filter(F.col("canonical_doc_id") != lowest)

    monkeypatch.setattr(dedup, "exact_dedup", dropping)
    res = _run_in_process(capsys, "admit_stream")
    assert res["correct"] is False and res["failed"] >= 1
