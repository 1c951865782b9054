"""Smoke test: each workload at tiny size, correctness checks included.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts and stops its own Spark session (~30 s apiece).
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_workload_untraced(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name
        assert m["unit"] == run.END_TO_END[name]


def test_ingest_traced_writes_spans():
    res = _run("ingest", 1)
    assert res["correct"]
    metrics = res["metrics"]
    assert set(metrics) == set(run.per_layer_names())
    for name in ("streaming.incremental.append_s", "index.mutate.compact_s",
                 "query.percolate.run_s", "self_s.query.executor",
                 "trace.spans", "spark.floor_s"):
        assert metrics[name]["value"] > 0, name
    path = os.path.join(run.BUILD, "traces", "ingest-seed7.json")
    with open(path) as f:
        spans = json.load(f)["spans"]
    assert len(spans) == metrics["trace.spans"]["value"]
    roots = {s[4] for s in spans if s[0].startswith("op.")}
    assert all(s[4] in roots for s in spans if s[3] >= 0)


def test_same_seed_same_inputs():
    import gen
    a = gen.make_corpus(3, 50, 500, 20)
    b = gen.make_corpus(3, 50, 500, 20)
    assert (a.tok == b.tok).all() and list(a.content) == list(b.content)
    assert list(a.path) == list(b.path)


def test_oracle_matches_analyzer_tokens():
    """Rendered text analyzes 1:1 onto the generated token ids."""
    sys.path.insert(0, run.ROOT)
    import gen
    from openaleph_search_spark.analysis.analyzer import analyze_text
    c = gen.make_corpus(5, 20, 300, 30)
    for i in range(c.n):
        want = [c.vocab[t] for t in c.tok[c.off[i]:c.off[i + 1]]]
        assert [t for t, _ in analyze_text(c.content[i])] == want
