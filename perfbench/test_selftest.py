"""Tiny-size self-test of the benchmark harness (a few minutes):

    python3 -m pytest perfbench -q

Runs each gated workload once untraced and once traced at toy sizes and
checks the result line against BENCHMARK.json, plus the pure helpers
and the refusal to run without the program next to the benchmark.
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
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import crawl  # noqa: E402
import roster  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY_CRAWL = {
    "corpus": {"n_pages": 400, "n_hosts": 16, "n_seeds": 40, "hot_share": 0.1,
               "links_per_page": 3},
    "budget": 4,
    "round_s": 6.5,
}
TINY_ROSTER = ["a2_pricing_summary", "lm_surprisal"]


# one process per run, as the benchmark is meant to run: the package keeps
# session-bound UDF objects at module level, so a second session in the
# same process would not work
_RUNNER = """
import sys
sys.path[:0] = [{here!r}, {root!r}]
import crawl, roster, run
crawl.WORKLOADS["crawl_broad"] = {crawl!r}
roster.QUERIES = {queries!r}
run.BENCH_BASE = {base!r}
sys.argv = ["run.py"] + {argv!r}
sys.exit(run.main())
"""


def _run(base, workload: str, trace: int) -> dict:
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace)]
    code = _RUNNER.format(here=HERE, root=ROOT, crawl=TINY_CRAWL,
                          queries=TINY_ROSTER, base=str(base), argv=argv)
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_result_lines(workload, tmp_path):
    base = tmp_path / "bench"
    plain = _run(base, workload, 0)
    assert set(plain) == {"correct", "attempted", "failed", "metrics"}
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    assert list(plain["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        got = plain["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0

    traced = _run(base, workload, 1)
    assert traced["correct"]
    layers = {k: v["value"] for k, v in traced["metrics"].items()}
    assert list(layers) == [m["name"] for m in SPEC["per_layer"]]
    assert layers["spark.jobs"] > 0 and layers["spark.tasks"] >= layers["spark.stages"]
    assert layers["trace.wall_s"] > 0
    if workload.startswith("crawl"):
        assert layers["frontier.phase_coverage"] >= 0.9
        assert layers["frontier.scheduled"] > 0
        assert layers["state.rows.fetched"] > 0
        assert layers["state.rows.seen_compact"] > 0
        assert layers["udf.rows_to_python"] > 0
    else:
        assert all(layers[f"q.{q}_s"] > 0 for q in TINY_ROSTER)
        assert layers["op.lmscore_s"] == layers["q.lm_surprisal_s"]
    # the run's workspace is gone; its trace was kept
    assert os.listdir(os.path.join(base, "runs")) == []
    assert len(os.listdir(os.path.join(base, "traces"))) == 1


def test_refuses_without_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "roster", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())


def test_union_length():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10)], clip=(2, 4)) == 2


def test_bloom_fill(tmp_path):
    arr = np.zeros((2, 4), dtype=np.uint8)
    arr[0, 0] = 0xFF  # shard 0: 8 of 32 bits set
    np.save(tmp_path / "bits.npy", arr)
    (tmp_path / "meta.json").write_text(json.dumps(
        {"n_shards": 2, "bits_per_shard": 32, "n_hashes": 2, "counting": False}))
    got = crawl.bloom_fill(str(tmp_path))
    assert got["bloom.fill_max"] == 0.25
    assert got["bloom.fill_mean"] == 0.125
    assert got["bloom.est_fp"] == pytest.approx((0.25 ** 2) / 2)


def test_digest_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": [0.1, 0.2]})
    b = pd.DataFrame({"y": [0.2, 0.1], "x": [2, 1]})
    c = pd.DataFrame({"x": [1, 2], "z": [0.1, 0.2]})
    assert roster.digest(a) == roster.digest(b)
    assert roster.digest(a) != roster.digest(c)


def test_benchmark_lists_every_roster_metric():
    names = {m["name"] for m in SPEC["per_layer"]}
    wanted = {f"q.{q}_s" for q in roster.QUERIES} | set(roster.op_metric_names())
    assert wanted <= names
