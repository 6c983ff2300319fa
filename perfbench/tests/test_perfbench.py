"""Smoke tests of the benchmark itself.

    python -m pytest perfbench/tests -q

Each workload runs once on tiny inputs: ``queries_sf0.1`` on the sf0.001
fixture the repository's tests use, ``pipeline_chain`` on a few thousand
generated events. Every
metric a run emits must be declared in ``BENCHMARK.json``, and every
declared metric must be emitted by some workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import harness  # noqa: E402
import wl_chain  # noqa: E402
import wl_queries  # noqa: E402
from spans import Tracer  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
END_TO_END = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}
EMITTED_LAYERS: set[str] = set()


def run_workload(runner, tmp_path, traced: bool, **kwargs) -> dict:
    ctx = harness.Context(root=ROOT, work=str(tmp_path), seed=7, seconds=0.1,
                          tracer=Tracer(traced=traced))
    try:
        result = runner(ctx, **kwargs)
    finally:
        ctx.tracer.close()
        if ctx.spark is not None:
            ctx.spark.stop()
    assert result["failed"] == 0, result["detail"]
    assert result["attempted"] >= 1
    assert set(result["end_to_end"]) == END_TO_END
    assert all(v > 0 for v in result["end_to_end"].values()), result["end_to_end"]
    assert set(result["layers"]) <= PER_LAYER, set(result["layers"]) - PER_LAYER
    EMITTED_LAYERS.update(result["layers"])
    return result


def test_queries_on_fixture(tmp_path):
    result = run_workload(wl_queries.run, tmp_path, traced=True, data=SF_DIR)
    layers = result["layers"]
    # segment_spend_deciles runs ranking jobs while it is built.
    assert layers["queries.construct_jobs"] > 0
    assert layers["exec.jobs"] > 0 and layers["exec.tasks"] >= layers["exec.stages"]


def test_chain_on_generated_inputs(tmp_path):
    result = run_workload(wl_chain.run, tmp_path, traced=True, n_events=3000,
                          n_users=300, n_docs=60, n_stream_files=3)
    layers = result["layers"]
    assert layers["jobs.users_items_jobs"] > 0 and layers["ml.train_jobs"] > 0
    assert layers["streaming.trigger_ms"] > 0 and layers["streaming.state_rows"] > 0


def test_every_declared_layer_is_emitted():
    # Runs after the workload tests, which fill EMITTED_LAYERS.
    if not EMITTED_LAYERS:
        pytest.skip("no workload ran")
    assert PER_LAYER - EMITTED_LAYERS == set()


def test_generators_are_seeded(tmp_path):
    def digest(d: str) -> str:
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                h.update(name.encode() + f.read())
        return h.hexdigest()

    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        gen.chain_inputs(str(tmp_path / sub / "chain"), seed, 500, 50, 20)
        gen.stream_files(str(tmp_path / sub / "stream"), seed, 2, 100)
    for part in ("chain", "stream"):
        a, b, c = (digest(str(tmp_path / s / part)) for s in "abc")
        assert a == b != c, part


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
