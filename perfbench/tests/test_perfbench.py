"""The benchmark's own tests: every metric BENCHMARK.json names is
printed, every gate trips on a perturbed output, and each workload runs
at smoke size.

    python3 -m pytest perfbench/tests -q

The smoke tests start one JVM each (about a minute apiece)."""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gates, inputs  # noqa: E402
from perfbench.run import load_spec  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCH = load_spec()


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_benchmark_json_lists_the_workloads():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)


# --- gates trip on perturbed outputs ---------------------------------------

@pytest.fixture(scope="module")
def small_corpus():
    t = inputs.transcripts(seed=5, n_docs=40, replicas=2)
    from perfbench.workloads import _artifacts

    return t, _artifacts(t.corpus)


def test_mentions_gate_trips(small_corpus):
    t, art = small_corpus
    replay = {d.conv_id: gates.replay_doc(d, art) for d in t.corpus.all_docs}
    want = gates.expected_mentions(replay, t.replicas)
    assert want, "fixture corpus must emit mentions"
    assert gates.multiset_match(list(want), want, "s2")[0]
    conv, pred, obj, score, seed = want[0]
    bad_score = [(conv, pred, obj, score + 1e-3, seed)] + want[1:]
    assert not gates.multiset_match(bad_score, want, "s2")[0]
    assert not gates.multiset_match(want[1:], want, "s2")[0]


def test_oracle_sample_gate_trips(small_corpus, monkeypatch):
    t, art = small_corpus
    docs = [d for d in t.corpus.all_docs if gates.replay_doc(d, art)][:2]
    assert gates.oracle_sample_match(docs, art)[0]
    real = gates.detect_doc
    monkeypatch.setattr(gates, "detect_doc",
                        lambda *a: real(*a)[1:])  # kernel drops a mention
    assert not gates.oracle_sample_match(docs, art)[0]


def test_beliefs_gate_tolerance_and_counts():
    want = pd.DataFrame({
        "subj": ["E0", "E1"], "pred": ["comp", "item"], "obj": ["a", "b"],
        "n_evidence": [3, 1], "first_ts": [10, 20], "last_ts": [30, 20],
        "confidence": [0.5, 0.25],
    })
    assert gates.beliefs_match(want.copy(), want)[0]
    near = want.assign(confidence=want["confidence"] + 5e-7)
    assert gates.beliefs_match(near, want)[0]
    assert not gates.beliefs_match(
        want.assign(confidence=want["confidence"] + 2e-6), want)[0]
    assert not gates.beliefs_match(want.assign(n_evidence=[3, 2]), want)[0]
    assert not gates.beliefs_match(want.iloc[:1], want)[0]


def test_temporal_gate_trips():
    want = pd.DataFrame({
        "subj": ["E0", "E0"], "pred": ["comp", "comp"], "obj": ["a", "b"],
        "version": [1, 2], "valid_from": [10, 20], "valid_to": [20, None],
        "is_current": [False, True],
    })
    assert gates.temporal_match(want.copy(), want)[0]
    assert not gates.temporal_match(want.assign(valid_to=[21, None]), want)[0]


def test_registry_oracle_gate_trips(tmp_path):
    sf_dir = str(tmp_path / "sf0.01")
    inputs.write_tables({"part": inputs.part_table(seed=5, n=60)}, sf_dir)
    check = gates.OracleCheck(ROOT, sf_dir, ["part"])
    want = check.oracle("kg_align")
    assert len(want) > 0
    assert check.match("kg_align", want.copy(), want)[0]
    bad = want.copy()
    bad.loc[0, "jaccard"] = bad.loc[0, "jaccard"] + 0.5
    assert not check.match("kg_align", bad, want)[0]


def test_canonicalize_gate_trips():
    ids, edges = inputs.chain_graph(seed=5, hops=4)
    good = [(e, ids[0]) for e in ids]
    assert gates.canonical_match(good, ids, edges)[0]
    assert not gates.canonical_match(good[:-1] + [(ids[-1], ids[-1])],
                                     ids, edges)[0]


def test_part_table_keeps_the_sf_part_shape():
    part = inputs.part_table(seed=9, n=2000)
    assert part.nunique().to_dict() == {
        "p_partkey": 2000, "p_name": 64, "p_brand": 25, "p_type": 6,
        "p_size": 50, "p_retailprice": 1000,
    }


def test_inputs_follow_the_seed():
    a = inputs.part_table(seed=9, n=50)
    pd.testing.assert_frame_equal(a, inputs.part_table(seed=9, n=50))
    assert not a.equals(inputs.part_table(seed=10, n=50))
    ids, edges = inputs.chain_graph(seed=9, hops=64)
    assert ids == sorted(ids) and len(edges) == 64


# --- runs -------------------------------------------------------------------

def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@functools.cache
def _smoke(workload: str, trace: int) -> subprocess.CompletedProcess:
    return _run(workload, trace)


def _unreached(p: subprocess.CompletedProcess) -> set[str]:
    return {name for line in p.stdout.splitlines()
            if line.startswith("# unreached ") for name in line.split()[2:]}


@pytest.mark.spark
@pytest.mark.parametrize("workload,trace", [
    ("flagship_build", 0), ("flagship_build", 1), ("kg_operators", 1),
])
def test_smoke_run(workload, trace):
    p = _smoke(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = _units("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.spark
def test_every_layer_metric_is_measured_by_a_workload():
    runs = [_smoke(w, 1) for w in WORKLOADS]
    assert all(p.returncode == 0 for p in runs)
    assert set.intersection(*map(_unreached, runs)) == set()


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("flagship_build", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
