"""Benchmark entry point.

    python3 pdibench/run.py --workload pdi_pipeline --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the seed's tables (cached per
seed under pdibench/.data), runs one workload in a fresh worker process
(``worker.py``) as one closed-loop client on Spark ``local[nproc]``,
prints a report and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
writes Spark's event log and installs span wrappers, and the metrics
are the per-layer ones (medians over the traced timed passes).

The exit code is non-zero, and no result line is printed, when the
package is missing or the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstats  # noqa: E402
import workloads  # noqa: E402
WORKER_TIMEOUT_S = 165
# a timed window whose second half costs this share less work CPU than
# its first half is flagged as not yet warm
WARM_TREND = 0.05
# count metrics that must repeat exactly between traced passes and runs
COUNTS = ("spark.jobs", "spark.tasks", "streaming.batches", "plans.materialize.hits")


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Wait for every process of the worker's session to end (the JVM
    exits after its parent's pipe closes), killing stragglers."""
    deadline = time.time() + 10
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
        while _group_alive(proc.pid):
            time.sleep(0.05)


def _spawn(args, data_dir: str, run_dir: str, out: str) -> int:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    ncpu = str(os.cpu_count() or 1)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=ncpu,
        PYTHONWARNINGS="ignore",
        PYTHONDONTWRITEBYTECODE="1",
        # every JVM the worker starts (the spark-submit launcher too)
        # keeps its temp files in the run directory and writes no perf data
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    t_spawn = time.time()
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--data", data_dir,
        "--run-dir", run_dir,
        "--t-spawn", repr(t_spawn),
        "--out", out,
    ]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
        except BaseException:  # SIGTERM or ^C: take the worker's tree down too
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            _stop_group(proc)
    return rc


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Median latency of each op over the given passes."""
    lat: dict[str, list[float]] = {}
    for p in passes:
        for s in p["samples"]:
            lat.setdefault(s["op"], []).append(s["t2"] - s["t0"])
    return {op: statistics.median(xs) for op, xs in lat.items()}


def end_to_end(res: dict) -> tuple[dict, dict]:
    """op_p50_s is the geometric mean of the ops' median latencies, so
    each op weighs the same however slow it is. op_tail_s is the median
    over passes of a pass's slowest op: a run has about ten op samples,
    too few for a percentile with 10 samples beyond it."""
    timed = res["timed"]
    samples = [s for p in timed for s in p["samples"]]
    per_op = op_medians(timed)
    failed = sum(1 for s in samples if not s["ok"])
    m = {
        "pass_s": _median([p["wall"] for p in timed]),
        "op_p50_s": statistics.geometric_mean(per_op.values()),
        "op_tail_s": _median([max(s["t2"] - s["t0"] for s in p["samples"]) for p in timed]),
        "cpu_s": _median([p["cpu"]["work"] for p in timed]),
        "setup_s": res["t_first_timed"] - res["t_spawn"],
    }
    info = {"per_op": per_op, "failed": failed, "attempted": len(samples)}
    return m, info


def per_layer(res: dict, untraced_pass_s: float) -> dict:
    traced = [p for p in res["timed"] if p["traced"]]
    computed_below = ("suite.write_p50_s", "suite.read_p50_s", "proc.jvm_rss_peak_mb", "trace.overhead")
    keys = [k for k in workloads.PER_LAYER if k not in computed_below]
    cpu_keys = {
        "pyworker.cpu_s": "pyworker",
        "proc.driver_cpu_s": "driver",
        "proc.jvm_cpu_s": "jvm",
        "proc.jit_cpu_s": "jit",
    }
    out = {}
    for k in keys:
        vals = []
        for p in traced:
            layer = p["layer"]
            if k in cpu_keys:
                v = p["cpu"][cpu_keys[k]]
            elif k == "suite.build_s":
                v = sum(s["t1"] - s["t0"] for s in p["samples"])
            elif k == "suite.action_s":
                v = sum(s["t2"] - s["t1"] for s in p["samples"])
            elif k == "io.write_mb":
                v = p["io"]["wchar"] / 2**20
            elif k == "io.read_mb":
                v = p["io"]["rchar"] / 2**20
            elif k == "spark.slot_util":
                busy = layer["spark.in_job_s"] * res["nproc"]
                v = layer["spark.executor_run_s"] / busy if busy else 0.0
            elif k == "plans.materialize.hit_ratio":
                hits = layer.get("plans.materialize.hits", 0)
                total = hits + layer.get("plans.materialize.misses", 0)
                v = hits / total if total else 0.0
            else:
                v = layer.get(k, 0.0)
            vals.append(v)
        out[k] = _median(vals)
    w = workloads.WORKLOADS[res["workload"]]
    for cls in ("write", "read"):
        out[f"suite.{cls}_p50_s"] = _median(
            [s["t2"] - s["t0"] for p in traced for s in p["samples"] if s["op"] in w[cls]]
        )
    out["proc.jvm_rss_peak_mb"] = res["jvm_rss_peak_mb"]
    # the event log is on in every pass of a traced run, so this is the
    # cost of the span wrappers alone
    out["trace.overhead"] = _median([p["wall"] for p in traced]) / untraced_pass_s
    return {k: out[k] for k in workloads.PER_LAYER}


def report(res: dict, info: dict, gen: dict, host0: dict, host1: dict, e2e: dict) -> list[str]:
    lines = [
        f"workload {res['workload']} seed {res['seed']} nproc {res['nproc']} "
        f"ops {','.join(res['ops'])}",
        f"datagen_s {gen['seconds']:.3f} (cached={not gen['generated']}; not part of setup_s)",
        f"setup_s {e2e['setup_s']:.3f}: session ready at "
        f"{res['t_session'] - res['t_spawn']:.3f}s, correctness pass "
        f"{sum(res['check_s'].values()):.3f}s, {len(res['warm'])} warm pass(es)",
        "correctness pass s: " + " ".join(f"{op}={s:.2f}" for op, s in res["check_s"].items()),
        "pass work cpu_s (JIT compiler threads left out) warm: "
        + " ".join(f"{p['cpu']['work']:.2f}" for p in res["warm"])
        + " | timed: "
        + " ".join(f"{p['cpu']['work']:.2f}" for p in res["timed"]),
        "pass JIT compiler cpu_s warm: "
        + " ".join(f"{p['cpu']['jit']:.2f}" for p in res["warm"])
        + " | timed: "
        + " ".join(f"{p['cpu']['jit']:.2f}" for p in res["timed"]),
        "pass cpu_s jvm/pyworker/driver timed: "
        + " ".join(
            f"{p['cpu']['jvm']:.2f}/{p['cpu']['pyworker']:.2f}/{p['cpu']['driver']:.2f}"
            for p in res["timed"]
        ),
        "pass wall_s warm: "
        + " ".join(f"{p['wall']:.3f}" for p in res["warm"])
        + " | timed: "
        + " ".join(f"{p['wall']:.3f}" for p in res["timed"]),
        "op median s: " + " ".join(f"{op}={v:.3f}" for op, v in info["per_op"].items()),
        f"op_tail_s is the median over {len(res['timed'])} timed passes of each pass's slowest op "
        f"({info['attempted']} op samples, too few for a percentile with 10 beyond it)",
        f"failed_frac {info['failed'] / info['attempted']:.4f} "
        f"({info['failed']} of {info['attempted']} op samples)",
        f"host load1 {host0['load1']:.2f} -> {host1['load1']:.2f}, "
        f"steal {procstats.steal_pct(host0, host1):.2f}% over the run",
    ]
    cpus = [p["cpu"]["work"] for p in res["timed"]]
    half = len(cpus) // 2
    early, late = statistics.mean(cpus[:half]), statistics.mean(cpus[-half:])
    if late < early * (1 - WARM_TREND):
        lines.append(
            "WARNING: pass work CPU still falls inside the timed window "
            f"(mean {early:.2f} in the first half, {late:.2f} in the second)"
        )
    for op, problems in res["mismatched"].items():
        lines.append(f"MISMATCH {op}: {'; '.join(problems)}")
    return lines


def cross_check(res: dict) -> list[str]:
    """Per-op ledger of the baseline ops against ROADMAP's re-anchor table."""
    lines = [
        "op ledger (median over traced timed passes) vs ROADMAP re-anchor jobs "
        "(one pass at sf0.1 on the TESTDATA.md tables):",
        f"  {'op':28s} {'jobs':>5s} {'tasks':>6s} {'exec_cpu_s':>10s} {'outside_s':>9s} {'roadmap_jobs':>12s}",
    ]
    for op, base in workloads.BASELINE_JOBS.items():
        rows = [
            s["ledger"]
            for p in res["timed"]
            if p["traced"]
            for s in p["samples"]
            if s["op"] == op
        ]
        if not rows:
            lines.append(f"  {op:28s} not in this workload ({base} jobs in ROADMAP)")
            continue
        med = {k: _median([r[k] for r in rows]) for k in rows[0]}
        lines.append(
            f"  {op:28s} {med['spark.jobs']:5.0f} {med['spark.tasks']:6.0f} "
            f"{med['spark.executor_cpu_s']:10.3f} {med['spark.outside_jobs_s']:9.3f} {base:12d}"
        )
    lines.append(
        "  job counts depend on the micro-batch and partition plan, not on row counts; "
        "task and CPU figures differ because these tables are generated at sf0.01"
    )
    lines.append(f"span wrappers installed on {res['spans_wrapped']} public layer functions")
    lines.append(
        "trace.overhead is traced over untraced passes of this run; the event log "
        "is on in both, so it is the span wrappers' cost alone"
    )
    traced = [p["layer"] for p in res["timed"] if p["traced"]]
    for k in COUNTS:
        seen = [layer.get(k, 0) for layer in traced]
        note = "" if len(set(seen)) == 1 else "  NOT REPEATED between traced passes"
        lines.append(f"count {k} per traced pass: {' '.join(f'{v:g}' for v in seen)}{note}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like ^C, so the worker's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "patientdataintegration_spark", "__init__.py")):
        print("patientdataintegration_spark not found beside the benchmark", file=sys.stderr)
        return 2

    host0 = procstats.host_sample()
    t0 = time.time()
    data_dir, generated = datagen.ensure_dataset(os.path.join(HERE, ".data"), args.seed)
    gen = {"seconds": time.time() - t0, "generated": generated}

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    try:
        rc = _spawn(args, data_dir, run_dir, out)
        if rc != 0 or not os.path.isfile(out):
            with open(os.path.join(run_dir, "worker.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"worker failed with exit code {rc}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    host1 = procstats.host_sample()

    e2e, info = end_to_end(res)
    for line in report(res, info, gen, host0, host1, e2e):
        print(line)
    if args.trace:
        untraced = [p["wall"] for p in res["timed"] if not p["traced"]]
        metrics = per_layer(res, _median(untraced))
        for line in cross_check(res):
            print(line)
        units = workloads.PER_LAYER
    else:
        metrics = e2e
        units = workloads.END_TO_END
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": not res["mismatched"] and info["failed"] == 0,
                "attempted": info["attempted"],
                "failed": info["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
