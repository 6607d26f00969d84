"""Self-tests for the benchmark.

    python3 -m pytest perfbench -q     # about 4 minutes: the smoke runs start Spark

- the same seed gives byte-identical inputs;
- every metric name the benchmark emits is declared in BENCHMARK.json and
  follows the name and unit rules;
- a tiny-scale run of each workload, traced and untraced, finishes with
  ``failed == 0`` and reports exactly the declared metrics;
- without the program beside it, the benchmark exits non-zero and prints
  no result.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.workloads import E2E_METRICS, WORKLOADS, layer_metrics  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_inputs(tmp_path):
    shapes = (gen.EventShape(events=300, users=30), gen.CorpusShape(documents=40, embeddings=30))
    for d in ("a", "b"):
        gen.write_inputs(str(tmp_path / d), 5, *shapes, customers=60)
    gen.write_inputs(str(tmp_path / "c"), 6, *shapes, customers=60)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", names, shallow=False)
    assert "events.parquet" in mismatch

    one = gen.stream_slices(5, 4, 50, 500, 1.1, 20, 0.05)
    two = gen.stream_slices(5, 4, 50, 500, 1.1, 20, 0.05)
    assert all(a.equals(b) for a, b in zip(one, two))


def test_stream_slices_are_event_time_ordered_with_resends():
    slices = gen.stream_slices(3, 5, 200, 1000, 1.1, 20, 0.05)
    bucket = 600 * 1_000_000
    seen_buckets: set = set()
    for t in slices:
        ts = t.column("ts").cast("int64").to_pylist()
        assert ts == sorted(ts) and t.num_rows == 210
        ids = t.column("event_id").to_pylist()
        assert len(ids) - len(set(ids)) == 10  # 5% of 200 re-sent
        buckets = {x // bucket for x in ts}
        assert not buckets & seen_buckets  # no dedup bucket spans two slices
        seen_buckets |= buckets


def test_benchmark_json_declares_every_emitted_name():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    assert {k: m["unit"] for k, m in e2e.items()} == E2E_METRICS
    assert {k: m["unit"] for k, m in layers.items()} == layer_metrics()
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    names = [w["name"] for w in bench["workloads"]] + list(e2e) + list(layers)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for m in list(e2e.values()) + list(layers.values()):
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("higher", "lower")
    for m in e2e.values():
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def _run(cwd: str, workload: str, trace: int, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_smoke_run_has_no_failures(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    want = layer_metrics() if trace else E2E_METRICS
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), next(iter(WORKLOADS)), 0, timeout=170)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
