"""Tests of the benchmark harness itself.

The unit tests need no Spark. The smoke tests run ``perfbench/run.py``
at ``--scale tiny`` (about a minute per workload on 4 cores) and check
the JSON result against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.tracer import Tracer, _cover  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_cover_merges_overlaps():
    assert _cover([(0, 2), (1, 3), (5, 6)]) == 4
    assert _cover([(0, 10), (2, 3)]) == 10
    assert _cover([]) == 0


def test_spans_nest_and_self_time():
    tr = Tracer(enabled=True)
    with tr.span("op.read.x"):
        with tr.span("search.api.search"):
            with tr.span("search.wand.wand_topk_with_found"):
                pass
    op, search, kernel = tr.spans
    assert search.parent == op.id and kernel.parent == search.id
    assert kernel.op == op.id
    kids = tr.children()
    assert tr.self_time(search, kids) == pytest.approx(search.dur - kernel.dur)
    assert 0.0 < tr.cover(op.start, op.end, "op.") <= 1.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("search.api.search"):
        pass
    tr.install()
    assert tr.spans == []


def test_churn_round_is_seeded_and_disjoint():
    live = {i: f"w{i:05d} w00001" for i in range(200)}
    a = inputs.churn_round(live, 200, seed=5, rnd=0, n_upsert=20, n_delete=8)
    b = inputs.churn_round(live, 200, seed=5, rnd=0, n_upsert=20, n_delete=8)
    assert a == b
    rows, dels = a
    ids = [d for d, _ in rows]
    assert len(ids) == 20 and len(set(ids)) == 20
    assert sum(d >= 200 for d in ids) == 10  # half inserts
    assert not set(ids) & set(dels) and set(dels) <= set(live)


def test_serve_lookup_is_a_point_lookup(tmp_path):
    docs = inputs.documents(str(tmp_path), 4, 400)[1]
    params = dict(inputs.serve_params(inputs.Vocab(docs["text"]), docs, 4))
    lookup = params["lookup"]
    releases = docs["source"].value_counts()
    assert releases.size > 50  # a high-cardinality key
    assert lookup["filter_by"] == f"source:={lookup['q']}"
    assert 3 <= releases[lookup["q"]] <= 30
    assert 1 <= params["group_page"]["page"] <= releases.size // 10


def test_peak_rss_reads_own_process():
    from perfbench.run import peak_rss_mb, process_tree

    assert process_tree(os.getpid())[0] == os.getpid()
    assert peak_rss_mb([os.getpid()]) > 0


def test_program_cpu_counts_own_process():
    from perfbench.run import program_cpu_s

    a = program_cpu_s(os.getpid())
    sum(i * i for i in range(2_000_000))
    b = program_cpu_s(os.getpid())
    # this process is counted twice (as the driver and as the tree root)
    assert b > a > 0


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload,trace", [("serve", 0), ("churn", 1)])
def test_smoke_tiny(workload, trace):
    spec = _spec()
    out = _run("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    group = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[group]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run("--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0",
               cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
