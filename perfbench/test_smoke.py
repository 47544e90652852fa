"""The benchmark's own tests: tiny-size runs of every workload emit every
metric ``BENCHMARK.json`` names, the reference scorer equals the engine's
oracle, and the benchmark refuses to run without the engine.

    python3 -m pytest perfbench/test_smoke.py -q     # a few minutes
"""

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd, workload, trace, timeout=400):
    cmd = [
        *SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_size_tables_match():
    from run import SIZES

    assert set(SIZES["smoke"]) == set(SIZES["full"])


def test_reference_scorer_matches_oracle():
    from information_retrieval_images_spark import fixtures
    from information_retrieval_images_spark.oracle import build_oracle_index, oracle_topk
    from refcheck import RefIndex, dense_ids

    pages = fixtures.make_pages_pandas(300, seed=5)
    oracle = build_oracle_index(pages)
    ref = RefIndex(dense_ids(pages))
    for q in fixtures.make_queries_pandas(5, 40)["query_text"]:
        assert ref.topk(q, 10) == oracle_topk(oracle, q, 10), q


def test_matches_accepts_only_tie_swaps():
    import pandas as pd
    from refcheck import RefIndex

    html = [b"<html><body><p>%s</p></body></html>" % t for t in (b"apple pear", b"apple pear", b"apple", b"pear")]
    ref = RefIndex(pd.DataFrame({"doc_id": [0, 1, 2, 3], "url": ["u0", "u1", "u2", "u3"], "html": html}))
    want = ref.topk("apple", 2)
    assert [d for d, _, _ in want] == [2, 0]
    (d2, u2, s2), (d0, u0, s0) = want
    assert ref.matches("apple", want, 2)
    assert ref.matches("apple", [(d2, u2, s2), (1, "u1", s0)], 2)  # 1 ties 0 exactly
    assert ref.tie_swaps == 1
    assert not ref.matches("apple", [(d2, u2, s2), (3, "u3", s0)], 2)  # 3 does not match
    assert not ref.matches("apple", [(d2, u2, s2), (1, "u0", s0)], 2)  # url of another doc
    assert not ref.matches("apple", [(d2, u2, s2), (d2, u2, s2)], 2)  # doc twice
    assert not ref.matches("apple", [(d0, u0, s0), (d2, u2, s2)], 2)  # order
    assert not ref.matches("apple", want[:1], 2)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"]), (m["name"], got)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work")), "work dir left behind"


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "search", 0, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
