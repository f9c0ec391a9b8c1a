"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The pure tests run in well under a second. The ``run_*`` tests start a
Spark session through ``perfbench/run.py`` (about a minute each): a
tiny traced run per workload that pins the record schema, and a recall
run against a pool with one deliberately wrong digest, which must be
reported as exactly one failed op.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402
import streams  # noqa: E402
import workloads  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runner():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["recall", "converse"]
    assert spec["paths"] == ["perfbench"]


def test_streams_repeat_per_seed_and_keep_one_cost_mix():
    pool = streams.load_pool()
    a = streams.recall_stream(pool, 7, 1)
    assert a == streams.recall_stream(pool, 7, 1)
    b = streams.recall_stream(pool, 8, 1)
    assert a != b
    assert sorted(s["slot"] for s in a) == sorted(s["slot"] for s in b)
    searches = [s for s in a if s["op"] == "search"]
    assert len(searches) == len(streams.USERS) * len(streams.USER_SLOTS) + len(
        streams.MMR_SLOTS)
    assert sum(s["op"] == "get_all" for s in a) == len(streams.USERS)
    plain_vector = [s for s in searches if not s["anchors"] and not s["diverse"]]
    assert len(plain_vector) > len(searches) / 2

    script = streams.converse_script(3, 6)
    assert [t.facts for t in script] == [t.facts for t in streams.converse_script(3, 6)]
    for t in script:
        assert 1 <= len(t.facts) <= 3 and 1 <= len(t.entities) <= 3
        assert len(t.relations) <= 2
    assert [t.changes for t in script] == [t.changes for t in streams.converse_script(4, 6)]
    # the first two turns share one session chain and cover every
    # decision kind and the ends of every shape range
    first = script[:2]
    assert len({(t.user_id, t.session_id) for t in first}) == 1
    assert {"UPDATE", "DELETE"} <= {c for t in first for c in t.changes}
    assert {len(t.facts) for t in first} == {1, 3}
    assert {len(t.relations) for t in first} == {0, 2}


def test_tracing_overhead_is_traced_minus_untraced():
    traced = {"setup_s": {"value": 11.0, "unit": "s"},
              "session_cpu_s": {"value": 21.0, "unit": "s"}}
    untraced = {"end_to_end": {"setup_s": {"value": 10.0, "unit": "s"}}}
    assert run.tracing_overhead(traced, untraced) == {
        "setup_s": {"value": 1.0, "unit": "s", "share": 0.1}}


def test_tail_is_the_highest_percentile_with_ten_samples_above():
    xs = [float(i) for i in range(1, 41)]
    value, pct = workloads.tail(xs)
    assert pct == 75
    assert sum(x > value for x in xs) >= 10
    assert workloads.tail(xs[:12])[1] == 50


def test_search_checks_flag_each_violation():
    row = dict(memory_id=1, user_id="bob", expired_at=None, score=0.9, created_at=5)
    ok = [row, dict(row, memory_id=2, score=0.8, created_at=3)]
    kw = dict(k=2, user_id="bob", include_expired=False, order="score")
    assert workloads.check_search(ok, **kw) == []
    assert workloads.check_search(ok, **dict(kw, k=1))
    assert workloads.check_search([row, row], **kw)
    assert workloads.check_search([dict(row, user_id="eve")], **kw)
    assert workloads.check_search([dict(row, expired_at=9)], **kw)
    assert workloads.check_search(ok[::-1], **kw)
    assert workloads.check_search(ok, **dict(kw, order="chrono"))
    assert workloads.check_search(ok[::-1], **dict(kw, order="chrono")) == []


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "recall", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _run(*args: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def _assert_schema(record: dict, last: dict, e2e: dict, layers: dict) -> None:
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["attempted"] >= 1
    assert {k: v["unit"] for k, v in last["metrics"].items()} == layers
    assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
    assert {k: record["end_to_end"][k]["unit"] for k in e2e} == e2e
    cond = record["conditions"]
    assert cond["cores"] >= 1 and cond["inputs_unchanged"] is True
    assert "host.steal_pct" in cond and "spark_conf" in record["detail"]


def test_run_recall_counts_a_wrong_digest_as_a_failed_op(tmp_path):
    with open(streams.POOL_FILE) as f:
        pool = json.load(f)
    first = streams.recall_stream(pool["specs"], 5, 1)[0]["id"]
    for spec in pool["specs"]:
        if spec["id"] == first:
            spec["digest"] = "0" * 16
    bad_pool = tmp_path / "pool.json"
    bad_pool.write_text(json.dumps(pool))
    record, last = _run("--workload", "recall", "--seed", "5", "--seconds", "1",
                        "--trace", "1", "--expected", str(bad_pool))
    _assert_schema(record, last, run.END_TO_END, run.PER_LAYER)
    assert last["correct"] is False and last["failed"] == 1
    assert record["failures"][0].startswith(first + ": digest")


def test_run_converse_traced_schema():
    record, last = _run("--workload", "converse", "--seed", "1", "--seconds", "1",
                        "--trace", "1", "--store", "fixtures/sf0.001")
    _assert_schema(record, last, run.END_TO_END, run.PER_LAYER)
    assert last["correct"] is True, record["failures"]
    for name in ("manager.add.extract_s", "manager.add.embed_s",
                 "manager.add.reconcile_probe_s", "manager.add.reconcile_s",
                 "lifecycle.execute_decisions_s", "manager.add.store_graph_s",
                 "manager.add.session_chain_s", "add.jobs", "add.tasks",
                 "add.executor_cpu_s", "add.shuffle_mb", "add.driver_only_s",
                 "add.slot_utilization", "store.save_s", "protocols.policy_s",
                 "store.memories_partitions_slope"):
        assert name in record["per_layer"], name


def test_run_analytics_traced_schema():
    from grafeo_memory_spark.sources.tables import DEFAULT_SF_DIR

    data = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")
    if not os.path.isdir(data):
        pytest.skip(f"driver tables not found at {data}")
    record, last = _run("--workload", "analytics", "--seed", "1", "--seconds", "1",
                        "--trace", "1", "--queries", "knn_topk,tpch_q1")
    assert last["correct"] is True, record["failures"]
    assert set(last["metrics"]) >= {"queries.vector_q.build_s",
                                    "queries.relational_q.jobs_build"}
    assert set(record["end_to_end"]) == set(run.ANALYTICS_END_TO_END)
    assert set(record["detail"]["queries"]) == {"knn_topk", "tpch_q1"}
