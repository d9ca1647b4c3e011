"""Self-test of the benchmark: one traced run per workload.

    python -m pytest perfbench/tests -m slow -q

Takes about four minutes on 4 cores (two Spark runs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

from run import END_TO_END, MIN_TRACED_PASSES, per_layer_names  # noqa: E402
from workloads import CHURN_COVERAGE, SERVE_CORE, SERVE_COVERAGE  # noqa: E402

# wrapped function -> the pass in which the workload must call it
EXERCISED = {
    "serve_iterative": {
        "cold": [
            "operators.vector_index.build_ivfpq_index",
            "operators.graph_index.build_knn_graph_index",
            "operators.text_index.build_bm25_index",
        ],
        "timed": [
            "io.load_table",
            "caching.truncate_lineage",
            "caching.tracked_persist",
            "operators.graph.connected_components",
            "operators.clustering.power_iteration",
            "operators.vector_index.served_ivfpq_topk",
            "operators.graph_index.served_beam_topk",
            "operators.text_index.served_bm25_topk",
            "operators.text_index.ensure_bm25_index",
        ],
    },
    "index_churn": {
        "cold": [
            "operators.minhash_index.ensure_minhash_index",
            "operators.minhash_index.build_minhash_index",
        ],
        "timed": [
            "caching.tracked_persist",
            "operators.minhash_index.served_minhash_probe",
            "operators.minhash_index.minhash_index_upsert",
            "operators.minhash_index.minhash_index_delete",
            "operators.lsm.lsm_upsert",
            "operators.lsm.lsm_delete",
            "operators.lsm.lsm_maybe_compact",
            "io.write_overwrite",
            "sources.riot.match_id_scan",
            "sources.riot.fetch_match_details",
            "sinks.write_truncate_and_load",
            "streaming.windows.replay_multibatch",
            "streaming.windows.run_to_completion",
        ],
    },
}


def _traced(workload: str, tmp_path) -> tuple[dict, dict]:
    dump = tmp_path / f"{workload}.json"
    proc = subprocess.run(
        [
            sys.executable, os.path.join(BENCH, "run.py"),
            "--workload", workload, "--seed", "11", "--seconds", "1",
            "--trace", "1", "--dump", str(dump),
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return result, json.loads(dump.read_text())


@pytest.fixture(scope="module")
def serve(tmp_path_factory):
    return _traced("serve_iterative", tmp_path_factory.mktemp("serve"))


@pytest.fixture(scope="module")
def churn(tmp_path_factory):
    return _traced("index_churn", tmp_path_factory.mktemp("churn"))


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(EXERCISED)


@pytest.mark.slow
@pytest.mark.parametrize("workload", list(EXERCISED))
def test_traced_run(workload, serve, churn):
    result, rows = {"serve_iterative": serve, "index_churn": churn}[workload]
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(per_layer_names())
    passes = rows["passes"]
    assert len(passes) >= MIN_TRACED_PASSES
    # every wrapper records calls where the workload exercises it (a
    # wrapper bound under the wrong name would record nothing)
    for fn in EXERCISED[workload]["cold"]:
        assert rows["cold"][f"{fn}_calls"] >= 1, fn
    for fn in EXERCISED[workload]["timed"]:
        assert all(p[f"{fn}_calls"] >= 1 for p in passes), fn
    # timed passes never build an index (builds happen in set-up)
    assert all(p["index.built"] == 0 for p in passes)


@pytest.mark.slow
def test_serve_iterative_split(serve):
    _, rows = serve
    passes = rows["passes"]
    keys = [f"op.{op}.construct_jobs" for op in SERVE_CORE + SERVE_COVERAGE]
    for key in keys + ["plans.construct_jobs"]:
        assert len({p[key] for p in passes}) == 1, key
    # driver-synchronous construction outweighs plan execution
    for p in passes:
        assert p["plans.construct_s"] > p["spark.execute_s"]


@pytest.mark.slow
def test_index_churn_compacts_and_etl_executes(churn):
    _, rows = churn
    passes = rows["passes"]
    assert sum(p["lsm.compactions"] for p in passes) >= 1
    assert sum(p["operators.lsm.lsm_compact_calls"] for p in passes) >= 1
    for op in CHURN_COVERAGE:
        assert len({p[f"op.{op}.construct_jobs"] for p in passes}) == 1, op
    for p in passes:
        # the reference ETL path is execution-bound: the query runs
        # longer than its construction, and the riot run spends most
        # of its time in the parquet write
        assert p["op.rel_q1_pricing.execute_s"] > p["op.rel_q1_pricing.construct_s"]
        riot = p["op.riot_ingest.construct_s"]
        assert p["io.write_overwrite_s"] > riot - p["io.write_overwrite_s"]
