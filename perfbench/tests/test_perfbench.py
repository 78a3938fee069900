"""The benchmark's own tests: seeded inputs, the answer checkers, the
metric registry against BENCHMARK.json, and a tiny end-to-end run.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import truth  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators ---------------------------------------------------------------


def test_store_rows_repeat_for_a_seed():
    a, b = gen.store_rows(7, 200), gen.store_rows(7, 200)
    assert [(c, k, m) for c, k, m, _ in a] == [(c, k, m) for c, k, m, _ in b]
    assert all(np.array_equal(x[3], y[3]) for x, y in zip(a, b))
    assert [k for _, k, _, _ in gen.store_rows(8, 200)] != [k for _, k, _, _ in a]


def test_store_rows_are_skewed_over_five_collections():
    rows = gen.store_rows(3, 4000)
    share = [sum(r[0] == c for r in rows) / len(rows) for c in gen.COLLECTIONS]
    assert share == sorted(share, reverse=True) and share[0] > 0.4


def test_corpus_and_vectors_repeat_for_a_seed():
    a, b = gen.corpus(5, 300), gen.corpus(5, 300)
    assert a.texts == b.texts and a.family == b.family
    assert a.exact_of and a.near_of
    va, vb = gen.clustered_vectors(5, 100, 4, 3), gen.clustered_vectors(5, 100, 4, 3)
    assert np.array_equal(va.vectors, vb.vectors)
    assert np.array_equal(va.queries, vb.queries)
    assert gen.corpus(6, 300).texts != a.texts


def test_planted_copies_meet_the_threshold():
    c = gen.corpus(1, 400)
    for copy, src in c.near_of.items():
        assert 0.6 <= truth.jaccard(c.texts[copy], c.texts[src]) < 1.0
    for copy, src in c.exact_of.items():
        assert c.texts[copy] == c.texts[src]


# -- checkers -------------------------------------------------------------------


def _topk_case():
    rng = np.random.default_rng(0)
    mat = rng.standard_normal((50, 8)).astype(np.float32)
    keys = [f"k{i}" for i in range(50)]
    q = rng.standard_normal(8).astype(np.float32)
    scores = truth.cosine(mat, q)
    order = np.argsort(-scores)[:10]
    return keys, scores, [keys[i] for i in order], [round(float(scores[i]), 6) for i in order]


def test_topk_checker_accepts_the_exact_answer():
    keys, scores, got, got_s = _topk_case()
    assert truth.topk_ok(got, got_s, keys, scores, 10)


def test_topk_checker_rejects_a_wrong_answer():
    keys, scores, got, got_s = _topk_case()
    worst = int(np.argmin(scores))
    swapped = got[:-1] + [keys[worst]]
    assert not truth.topk_ok(swapped, got_s[:-1] + [float(scores[worst])], keys, scores, 10)
    assert not truth.topk_ok(got[:-1], got_s[:-1], keys, scores, 10)
    assert not truth.topk_ok(got, got_s[:-1] + [got_s[-1] + 0.01], keys, scores, 10)


def test_ivf_checker_rejects_a_dropped_hit():
    d = gen.clustered_vectors(2, 400, 8, 4)
    t = truth.IvfTruth(d.centroids)
    t.add(range(400), d.vectors)
    q = d.queries[0]
    qu = q / np.linalg.norm(q)
    probed = np.argsort(-(t.c @ qu))[:2]
    scores = t.unit @ qu
    cand = np.flatnonzero(np.isin(t.lists, probed))
    best = cand[np.argsort(-scores[cand])[:11]]
    ids = [int(t.ids[j]) for j in best]
    ss = [round(float(scores[j]), 6) for j in best]
    ok, n_cand, recall = t.check_query(q, 2, 10, ids[:10], ss[:10])
    assert ok and n_cand == len(cand) and 0 < recall <= 1
    assert not t.check_query(q, 2, 10, ids[1:11], ss[1:11])[0]


def test_group_checker_rejects_a_dropped_pair():
    c = gen.corpus(4, 300)
    exact, near = truth.family_pairs(c.texts, c.family, range(300), 0.6)
    assert exact and near > exact
    group_of = {i: min(j for j in range(300) if c.family[j] == c.family[i]) for i in range(300)}
    assert truth.check_groups(group_of, c.family, exact, near) == (True, 1.0)
    a, b = next(iter(exact))
    split = {**group_of, b: b}
    assert not truth.check_groups(split, c.family, exact, near)[0]
    a, b = next(iter(near - exact))
    split = {**group_of, b: b}
    ok, recall = truth.check_groups(split, c.family, exact, near)
    assert recall < 1.0


# -- registry -------------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    spec = _spec()
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]]
    assert e2e == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == metrics.per_layer()
    assert len(spec["per_layer"]) <= 128
    assert [w["name"] for w in spec["workloads"]] == ["store_crud", "corpus_pipeline"]


# -- end to end -----------------------------------------------------------------


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["store_crud", "corpus_pipeline"])
@pytest.mark.parametrize("traced", [0, 1])
def test_tiny_run_prints_every_metric(workload, traced):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "2",
             "--trace", str(traced), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = _spec()
    names = spec["per_layer"] if traced else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in names} == {
        n: v["unit"] for n, v in out["metrics"].items()
    }
    if not traced:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_run_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "store_crud", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=60)
    assert p.returncode != 0 and not p.stdout.strip()
