"""Workload definitions and the metric catalogue the benchmark emits.

Each workload is a fixed list of suite ops (``QUERIES[name]``). A pass
runs every op once, in an order the seed shuffles. Set-up runs
``warm_passes`` whole untimed passes after the correctness pass: the
JVM's JIT keeps compiling Spark's code for dozens of passes, which
set-up cannot wait out, so the count is where a pass's work CPU (JIT
compiler threads left out) has levelled off. A fixed count, not a stop
rule on the CPU trend, because a slow host then gets the same warm-up
instead of fewer warm passes in the same time. Ops are split into
two classes so that a change that helps one use at the cost of the
other shows up in ``suite.write_p50_s`` and ``suite.read_p50_s``:
*write* ops produce or update kept state (a stream committing store
state per micro-batch, a persisted fold assignment) and *read* ops
only query data or state that already exists.
"""

from __future__ import annotations

WORKLOADS = {
    # The reference's own lifecycle (PAPER.md): q45 runs cohort union,
    # imputation, stratified folds, per-group sampling, scoring and
    # BA/AUROC as one DAG (read class); q11 produces the stratified fold
    # assignment the reference persists as its split sink (write class).
    # No streaming or store code runs, so it is the control for store
    # changes.
    "pdi_pipeline": {
        "write": ["q11_fold_assignment"],
        "read": ["q45_full_pipeline"],
        "warm_passes": 5,
    },
    # Maintained state reused across requests: a streaming top-k that
    # commits applyInPandasWithState state every micro-batch (write
    # class); an ANN top-k served from the IVF serving export and a
    # PageRank over the content-keyed materialized edge checkpoint (read
    # class), both built by the op's first call during set-up. Bound by
    # driver-side orchestration, not executor compute.
    "store_crud_serving": {
        "write": ["q270_streaming_topk"],
        "read": ["q294_ivf_pruned_serving", "q130_pagerank"],
        "warm_passes": 4,
    },
}

# ops whose per-op ledger the traced report sets beside the re-anchor
# baseline in ROADMAP.md (one pass at sf0.1, 4 cores)
BASELINE_JOBS = {
    "q275_streaming_takedowns": 108,
    "q273_streaming_components": 74,
    "q283_streaming_index": 51,
    "q280_bm25_topk": 14,
    "q45_full_pipeline": 27,
}

END_TO_END = {
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "cpu_s": "s",
    "setup_s": "s",
}

# Per-layer metrics of layers that some workload runs. The dedup,
# textops, indexing, forest, training and incremental operators, the
# components, index and sinks stores and plans.partitioning are left
# out: no op that fits the run budget calls them, so they would read 0
# on every run (pdibench/layers.json, "left_out").
PER_LAYER = {
    "suite.build_s": "s",
    "suite.action_s": "s",
    "suite.write_p50_s": "s",
    "suite.read_p50_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.in_job_s": "s",
    "spark.outside_jobs_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.slot_util": "ratio",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sources.calls": "count",
    "sources.self_s": "s",
    "operators.self_s": "s",
    "operators.similarity.self_s": "s",
    "operators.similarity.calls": "count",
    "functions.self_s": "s",
    "pyworker.cpu_s": "s",
    "plans.materialize.hits": "count",
    "plans.materialize.misses": "count",
    "plans.materialize.hit_ratio": "ratio",
    "plans.materialize.self_s": "s",
    "streaming.self_s": "s",
    "streaming.ivf.self_s": "s",
    "streaming.topk.self_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "io.write_mb": "MB",
    "io.read_mb": "MB",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.jit_cpu_s": "s",
    "proc.jvm_rss_peak_mb": "MB",
    "trace.overhead": "ratio",
}


def ops(workload: str) -> list[str]:
    w = WORKLOADS[workload]
    return w["write"] + w["read"]
