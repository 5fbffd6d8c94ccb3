"""Self-test of the benchmark. From the repository root:

    python3 -m pytest perfbench/tests -q

The unit tests feed every correctness check a deliberately corrupted result
and assert that it fails. The tiny runs execute each workload end to end at
toy sizes, traced and untraced, and assert that every metric named in
BENCHMARK.json is emitted with its unit (about five minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import oracle as O  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _rows(pairs, col="score"):
    return [{"doc_id": d, "rank": i + 1, col: s} for i, (d, s) in enumerate(pairs)]


def test_inputs_depend_only_on_the_seed():
    def draw(seed):
        rng = np.random.default_rng(seed)
        docs = inputs.make_docs(rng, 50)
        return docs, inputs.golden_queries(rng, docs, 5)

    assert draw(3) == draw(3)
    assert draw(3) != draw(4)
    docs, golden = draw(3)
    for _, query, doc_id in golden:
        assert query in dict(docs)[doc_id]


def test_planted_token_is_out_of_vocabulary():
    vocab = set(inputs.vocabulary())
    rng = np.random.default_rng(0)
    token = inputs.planted_token(7, 0)
    rows, planted = inputs.ingest_batch(rng, 100, 30, token, sorted(vocab))
    assert token not in vocab
    assert [d for d, t in rows if token in t.split()] == [planted]


def test_same_ranking_fails_on_corruption():
    want = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert O.same_ranking(want, want)
    assert O.same_ranking([(1, 3.0), (3, 2.0), (2, 2.0), (4, 1.0)], want)
    assert not O.same_ranking([(1, 3.0), (2, 2.0), (5, 2.0), (4, 1.0)], want)
    assert not O.same_ranking([(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.1)], want)
    assert not O.same_ranking(want[:3], want)
    assert not O.same_ranking([(1, 3.0), (1, 2.0), (3, 2.0), (4, 1.0)], want)


def test_ann_and_fused_checks_fail_on_corruption():
    exact = {1: 0.1, 2: 0.2, 3: 0.3}
    got = [(1, 0.1), (3, 0.3)]
    assert O.ann_consistent(got, exact, 2)
    assert not O.ann_consistent([(1, 0.1), (3, 0.31)], exact, 2)
    assert not O.ann_consistent([(3, 0.3), (1, 0.1)], exact, 2)
    assert not O.ann_consistent([(1, 0.1), (9, 0.3)], exact, 2)
    assert O.fused_consistent([(1, 0.9), (2, 0.4)], {1, 2}, 2)
    assert not O.fused_consistent([(1, 0.4), (2, 0.9)], {1, 2}, 2)
    assert not O.fused_consistent([(1, 1.4), (2, 0.9)], {1, 2}, 2)
    assert not O.fused_consistent([(1, 0.9), (7, 0.4)], {1, 2}, 2)


def test_ingest_checks_fail_on_corruption():
    rows = _rows([(5, 2.0), (6, 1.0)])
    assert O.planted_first(rows, 5)
    assert not O.planted_first(rows, 6)
    assert not O.planted_first([], 5)
    assert O.none_deleted(rows, {7})
    assert not O.none_deleted(rows, {6})


def test_oracle_answers_fail_on_corruption():
    rng = np.random.default_rng(1)
    docs = inputs.make_docs(rng, 60)
    orc = O.Oracle(docs)
    q = " ".join(docs[10][1].split()[:4])
    kw = orc.keyword(q, 5)
    assert kw[0][0] == 10 or kw[0][1] == kw[1][1]
    assert not O.same_ranking([(kw[0][0], kw[0][1] + 1e-3)] + kw[1:], kw)
    dist = orc.distances(q)
    vec = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))[:5]
    assert O.ann_consistent(vec, dist, 5)
    assert not O.ann_consistent(vec[::-1], dist, 5)
    hyb = orc.hybrid(q, 0.25, 5)
    assert len(hyb) == 5 and O.fused_consistent(hyb, set(orc.text), 5)
    n, prompt, completion = orc.rag(q, 0.25, 5, 3, 2500)
    assert 1 <= n <= 3 and prompt.startswith(f"Question: {q} Context: ")
    assert completion == f"[{O.STUB_MODEL}] {prompt}"
    assert orc.rag(q, 0.25, 5, 3, 10)[0] == 1  # budget keeps only the first


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_declared_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
