"""Tests of the benchmark itself.

    python3 -m pytest pdibench/test_bench.py -q                 # unit tests, seconds
    PDIBENCH_E2E=1 python3 -m pytest pdibench/test_bench.py -q  # plus real runs, ~8 min

The end-to-end tests run ``run.py`` on each workload (one untraced and
two traced runs of one seed) and check the printed metric names and
units against BENCHMARK.json, that no op fails, and that the count
metrics repeat exactly between the two traced runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import procstats  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_catalogue_matches_benchmark_json():
    assert [m["name"] for m in BENCH["end_to_end"]] == list(workloads.END_TO_END)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    mapped = {m for row in layers["map"] for m in row["metrics"]}
    assert mapped == set(workloads.PER_LAYER)
    for name, w in workloads.WORKLOADS.items():
        assert layers["workloads"][name]["ops"] == workloads.ops(name)
        assert layers["workloads"][name]["write"] == w["write"]
        assert layers["workloads"][name]["warm_passes"] == w["warm_passes"]


def test_datagen_is_seeded_and_shaped(tmp_path):
    a, made = datagen.ensure_dataset(str(tmp_path), 7)
    assert made
    assert datagen.ensure_dataset(str(tmp_path), 7) == (a, False)
    b, _ = datagen.ensure_dataset(str(tmp_path / "other"), 7)
    c, _ = datagen.ensure_dataset(str(tmp_path), 8)
    for t in ("lineitem", "documents", "embeddings"):
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{t}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)
        assert ta.num_rows == tc.num_rows
        assert pq.ParquetFile(os.path.join(a, f"{t}.parquet")).num_row_groups == 1
    docs = pq.read_table(os.path.join(a, "documents.parquet")).to_pydict()
    assert sum(t.endswith(" dup") for t in docs["text"]) >= datagen.ROWS["documents"] // 25
    assert len(set(docs["text"])) < len(docs["text"])  # exact duplicates too
    emb = np.array(pq.read_table(os.path.join(a, "embeddings.parquet"))["embedding"].to_pylist())
    assert emb.shape == (datagen.ROWS["embeddings"], datagen.DIM)
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
    assert not [p for p in os.listdir(tmp_path) if ".tmp-" in p]


def test_self_time_subtracts_the_union_of_overlapping_children():
    # parent 0..10 s; children on two threads overlap in 2..6 and 4..8
    s = [
        (0, None, "streaming.index", "index_stream", 0.0, 10.0, None),
        (1, 0, "streaming.components", "parallel_actions", 2.0, 6.0, None),
        (2, 0, "operators.indexing", "bm25", 4.0, 8.0, None),
        (3, 2, "plans.materialize", "ensure_materialized", 5.0, 5.5, "hit"),
    ]
    out = spans.layer_stats(s, 0.0, 11.0)
    assert out["streaming.index.self_s"] == pytest.approx(4.0)
    assert out["streaming.self_s"] == pytest.approx(8.0)
    assert out["operators.indexing.self_s"] == pytest.approx(3.5)
    assert out["plans.materialize.hits"] == 1
    assert out["streaming.components.calls"] == 1
    assert spans.layer_stats(s, 20.0, 30.0) == {}


def test_event_log_ledger_assigns_by_start_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9500},
        {
            "Event": "SparkListenerTaskEnd",
            "Task Info": {"Launch Time": 1500},
            "Task Metrics": {"Executor Run Time": 800, "Executor CPU Time": 5e8, "JVM GC Time": 10},
        },
        {
            "Event": eventlog.PROGRESS,
            "progress": {"timestamp": "1970-01-01T00:00:02.500Z", "durationMs": {"triggerExecution": 700}},
        },
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = eventlog.read_event_log(str(tmp_path))
    led = eventlog.ledger(log, 0.0, 5.0)
    assert led["spark.jobs"] == 2
    assert led["spark.in_job_s"] == pytest.approx(3.0)
    assert led["spark.outside_jobs_s"] == pytest.approx(2.0)
    assert led["spark.tasks"] == 1
    assert led["spark.executor_cpu_s"] == pytest.approx(0.5)
    assert led["streaming.batches"] == 1
    assert eventlog.batch_ms(log, 0.0, 5.0) == [700]


def test_end_to_end_summaries_are_medians_over_passes():
    def sample(op, latency):
        return {"op": op, "t0": 0.0, "t1": 0.0, "t2": latency, "ok": True}

    passes = [
        {"wall": w, "cpu": {"work": c}, "samples": [sample("a", a), sample("b", b)]}
        for w, c, a, b in ((3.0, 6.0, 1.0, 2.0), (5.0, 9.0, 1.0, 4.0), (4.0, 7.0, 3.0, 8.0))
    ]
    m, info = run.end_to_end({"timed": passes, "t_first_timed": 12.0, "t_spawn": 2.0})
    assert m["pass_s"] == 4.0
    assert m["cpu_s"] == 7.0
    assert info["per_op"] == {"a": 1.0, "b": 4.0}
    assert m["op_p50_s"] == pytest.approx(2.0)  # geometric mean of 1 and 4
    assert m["op_tail_s"] == 4.0  # slowest ops per pass: 2, 4, 8
    assert m["setup_s"] == 10.0
    assert (info["attempted"], info["failed"]) == (6, 0)


def test_work_cpu_leaves_out_the_jit_compiler_threads():
    before = {"tree": 10.0, "driver": 1.0, "jvm": 8.0, "pyworker": 0.0,
              "jit_threads": {11: 3.0, 12: 1.0, 13: 2.0}}
    # thread 13 retired; thread 14 started between the samples
    after = {"tree": 16.0, "driver": 1.5, "jvm": 13.5, "pyworker": 0.0,
             "jit_threads": {11: 4.0, 12: 1.5, 14: 0.5}}
    d = procstats.cpu_delta(before, after)
    assert d["jit"] == pytest.approx(2.0)
    assert d["work"] == pytest.approx(4.0)
    assert d["jvm"] == pytest.approx(5.5)


def _run(workload: str, seed: int, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


e2e = pytest.mark.skipif(not os.environ.get("PDIBENCH_E2E"), reason="set PDIBENCH_E2E=1")


@e2e
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_run_emits_the_declared_metrics_and_repeats_counts(workload):
    _, res = _run(workload, 3, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == workloads.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    traced = [_run(workload, 3, 1)[1]["metrics"] for _ in range(2)]
    assert {k: v["unit"] for k, v in traced[0].items()} == workloads.PER_LAYER
    for k in run.COUNTS:
        if k in TIMING_DEPENDENT_COUNTS.get(workload, ()):
            continue
        assert traced[0][k]["value"] == traced[1][k]["value"], k


# AQE submits q45's query stages asynchronously and re-plans as sibling
# stages finish, so its job and task counts vary by a few between calls
# (pdibench/layers.json, "counts")
TIMING_DEPENDENT_COUNTS = {"pdi_pipeline": ("spark.jobs", "spark.tasks")}


def test_bare_directory_fails_without_a_result(tmp_path):
    bare = tmp_path / "checkout"
    (bare / "pdibench").mkdir(parents=True)
    for name in os.listdir(HERE):
        if name.endswith((".py", ".json")):
            (bare / "pdibench" / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    (bare / "BENCHMARK.json").write_text(json.dumps(BENCH))
    proc = subprocess.run(
        [sys.executable, "pdibench/run.py", "--workload", "pdi_pipeline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
