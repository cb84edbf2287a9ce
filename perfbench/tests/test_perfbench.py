"""Tests of the benchmark itself: input determinism, the names in
BENCHMARK.json, and a small-size run of every workload.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_vectors_same_seed_same_bytes(tmp_path):
    a_ids, a = gen.vectors(500, 64, 7)
    b_ids, b = gen.vectors(500, 64, 7)
    assert a.tobytes() == b.tobytes() and a_ids.tobytes() == b_ids.tobytes()
    assert gen.vectors(500, 64, 8)[1].tobytes() != a.tobytes()
    for name in ("x", "y"):
        gen.write(gen.vector_table(a_ids, a), str(tmp_path / f"{name}.parquet"))
    assert (tmp_path / "x.parquet").read_bytes() == (tmp_path / "y.parquet").read_bytes()


def test_docs_same_seed_same_bytes(tmp_path):
    ids, texts, planted = gen.docs(200, 5)
    ids2, texts2, planted2 = gen.docs(200, 5)
    assert ids.tobytes() == ids2.tobytes() and texts == texts2
    assert planted.tobytes() == planted2.tobytes()
    assert gen.docs(200, 6)[1] != texts
    for name in ("x", "y"):
        gen.write(gen.doc_table(ids, texts), str(tmp_path / f"{name}.parquet"))
    assert (tmp_path / "x.parquet").read_bytes() == (tmp_path / "y.parquet").read_bytes()


def test_docs_plant_one_near_copy_per_base():
    ids, texts, planted = gen.docs(300, 9)
    assert sorted(ids.tolist()) == list(range(600))
    by_id = dict(zip(ids.tolist(), texts))
    edited = [sum(x != y for x, y in zip(by_id[a].split(), by_id[b].split()))
              for a, b in planted.tolist()]
    assert all(len(by_id[a].split()) == gen.DOC_TOKENS for a, _ in planted.tolist())
    # ~5% of 120 tokens edited per copy
    assert 3 < np.mean(edited) < 9


def test_every_operation_gets_its_own_seed():
    seeds = {gen.derive_seed(1, "w", i) for i in range(100)}
    assert len(seeds) == 100
    assert gen.derive_seed(1, "w", 0) != gen.derive_seed(2, "w", 0)
    assert gen.derive_seed(1, "w", 0) == gen.derive_seed(1, "w", 0)


def test_names_and_units():
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    metrics = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    for n in names + metrics:
        assert NAME.match(n), n
    assert len(set(names + metrics)) == len(names + metrics)
    assert sorted(names) == sorted(WORKLOADS)
    for m in s["end_to_end"] + s["per_layer"]:
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]), m
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in s["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--scale", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0, p.stderr[-3000:]
    kind = "per_layer" if trace == "1" else "end_to_end"
    expected = {m["name"]: m["unit"] for m in spec()[kind]}
    assert {n: v["unit"] for n, v in out["metrics"].items()} == expected
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values()), out
    else:
        assert out["metrics"]["trace_overhead_ratio"]["value"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "wm_roundtrip_gemm", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
